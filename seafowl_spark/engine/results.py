"""One result path for the serving frontends.

A read fetches its whole result in **one Spark job** as Arrow record
batches (``fetch``), or in none when Spark folded a read of driver-held
tables into rows the driver holds; HTTP, pgwire and Flight all fetch
through ``fetch``. HTTP and pgwire then take Python values per batch from
``row_batches``: the same values ``Row`` carries (what ``collect`` gives),
so the JSON-lines and DataRow bytes do not depend on the fetch path.

Per column type, the values come from ``to_pylist()`` as they are, or
through a converter where Arrow's Python value differs from ``Row``'s:

* struct   -> ``Row`` (Arrow gives a dict);
* map      -> dict in the order the JVM's ``java.util.HashMap`` iterates
  it, which is the order ``collect`` unpickles (Arrow gives entry order);
* timestamp -> naive local time (Arrow gives a tz-aware UTC datetime);
* variant  -> ``VariantVal``; UDT -> ``deserialize``;
* arrays and map values convert their elements the same way.
"""

from __future__ import annotations

import datetime
import struct
import weakref
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.errors import PySparkNotImplementedError
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .deltalite import driver_rows

# results of statements that read nothing but driver-held tables
_DRIVER_HELD: weakref.WeakSet = weakref.WeakSet()


def driver_held(df: DataFrame) -> DataFrame:
    """Mark ``df``, the result of a statement that read nothing but
    driver-held tables (``deltalite.held_bytes``), so that ``fetch``
    looks at its plan; returns ``df``."""
    _DRIVER_HELD.add(df)
    return df


def fetch(df: DataFrame) -> pa.Table:
    """The result of ``df``, fetched in one Spark job, or in none when
    ``df`` is ``driver_held`` and Spark folded it into rows the driver
    holds (``deltalite.driver_rows``): a point, filter or LIMIT read of a
    small table. Only such a marked result looks at its plan, so any other
    read pays no extra round trip to the JVM.

    The job is ``df.toArrow()`` without its final cast to the Python-built
    Arrow schema: the JVM's batches already carry that schema under the
    engine's UTC session, and the cast rejects a NULL struct whose fields
    are NOT NULL (every NULL variant)."""
    if df in _DRIVER_HELD:
        table = driver_rows(df)
        if table is not None:
            return table
    return pa.Table.from_batches(df._collect_as_arrow(empty_list_if_zero_records=False))


def row_batches(table: pa.Table, schema: T.StructType) -> Iterator[list[tuple]]:
    """Yield each Arrow batch of ``table`` as a list of row tuples holding
    the Python values ``Row`` would hold for ``schema``."""
    convs = [_converter(f.dataType) for f in schema.fields]
    for batch in table.to_batches():
        if not convs:
            yield [()] * batch.num_rows
            continue
        cols = [
            col.to_pylist() if conv is None else [conv(v) for v in col.to_pylist()]
            for col, conv in zip(batch.columns, convs)
        ]
        yield list(zip(*cols))


# ------------------------------------------------------------- converters


def _converter(dt: T.DataType) -> Callable | None:
    """A None-safe function from the Arrow Python value to the ``Row``
    value for ``dt``, or None where the two are the same."""
    if isinstance(dt, T.StructType):
        names = dt.names
        convs = [_converter(f.dataType) for f in dt.fields]

        def struct_(v):
            if v is None:
                return None
            vals = [v.get(n) for n in names]
            return T._create_row(
                names, [x if c is None else c(x) for x, c in zip(vals, convs)]
            )

        return struct_
    if isinstance(dt, T.ArrayType):
        conv = _converter(dt.elementType)
        if conv is None:
            return None
        return lambda v: None if v is None else [conv(x) for x in v]
    if isinstance(dt, T.MapType):
        return _map_converter(dt)
    if isinstance(dt, T.TimestampType):
        # Row holds naive local time (TimestampType.fromInternal)
        return lambda v: None if v is None else v.astimezone().replace(tzinfo=None)
    if isinstance(dt, T.VariantType):
        return lambda v: None if v is None else T.VariantVal(v["value"], v["metadata"])
    if isinstance(dt, (T.YearMonthIntervalType, T.CalendarIntervalType)):
        # Row cannot hold these either: fail as collect() does
        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": f"{type(dt).__name__}.fromInternal"},
        )
    if isinstance(dt, T.UserDefinedType):
        conv = _converter(dt.sqlType())
        return lambda v: None if v is None else dt.deserialize(v if conv is None else conv(v))
    return None


def _map_converter(dt: T.MapType) -> Callable:
    kconv, vconv = _converter(dt.keyType), _converter(dt.valueType)
    jkey = _java_key(dt.keyType)

    def map_(v):
        if v is None:
            return None
        items = [
            (k if kconv is None else kconv(k), x if vconv is None else vconv(x))
            for k, x in v
        ]
        if jkey is not None and len(items) > 1:
            items = [items[i] for i in _hashmap_order([k for k, _ in v], *jkey)]
        return dict(items)

    return map_


# ----------------------------------------------- java.util.HashMap order
#
# ``collect`` ships a map as a java.util.HashMap built with the map's size
# as its initial capacity and filled in entry order; Python rebuilds the
# dict in the HashMap's iteration order. That order is replayed here, from
# the keys' JVM hashCode() and compareTo(), as OpenJDK's HashMap builds it:
# buckets by spread hash, entry order within a bucket; the table doubles
# past 0.75 * capacity, or when a bucket of a table below 64 slots reaches
# 9 entries; at 64 slots or more such a bucket becomes a red-black tree,
# which lists its root first and each later entry after its tree parent.


class _Node:
    __slots__ = ("h", "k", "i", "left", "right", "parent", "red")

    def __init__(self, h, k, i):
        self.h, self.k, self.i = h, k, i


def _hashmap_order(keys: list, jhash: Callable, jorder: Callable) -> list[int]:
    """Positions of ``keys`` in the iteration order of a HashMap(len(keys))
    that put them in order."""
    nodes = []
    for i, k in enumerate(keys):
        h = jhash(k)
        h ^= h >> 16
        nodes.append(_Node(h - (1 << 32) if h >= 1 << 31 else h, jorder(k), i))
    cap = 1 << (len(keys) - 1).bit_length()  # tableSizeFor(n)
    tab: list = [None] * cap
    trees: set[int] = set()
    for size, x in enumerate(nodes, 1):
        b = x.h & (cap - 1)
        bin_ = tab[b]
        if bin_ is None:
            tab[b] = [x]
        elif b in trees:
            _tree_put(bin_, x)
        else:
            bin_.append(x)
            if len(bin_) > 8:  # treeifyBin
                if cap < 64:
                    tab, trees, cap = _resize(tab, trees, cap)
                else:
                    _treeify(bin_)
                    trees.add(b)
        if size > cap * 3 // 4:
            tab, trees, cap = _resize(tab, trees, cap)
    return [x.i for bin_ in tab if bin_ for x in bin_]


def _resize(tab, trees, cap):
    new: list = [None] * (2 * cap)
    new_trees = set()
    for j, bin_ in enumerate(tab):
        if not bin_:
            continue
        lo = [x for x in bin_ if not x.h & cap]
        hi = [x for x in bin_ if x.h & cap]
        for part, other, idx in ((lo, hi, j), (hi, lo, j + cap)):
            if not part:
                continue
            new[idx] = part
            if j in trees and len(part) > 6:  # else untreeified, order kept
                new_trees.add(idx)
                if other:
                    _treeify(part)
    return new, new_trees, 2 * cap


def _dir(x: _Node, p: _Node) -> int:
    if p.h != x.h:
        return -1 if p.h > x.h else 1
    return 1 if x.k > p.k else -1  # compareTo; equal keys cannot occur


def _treeify(bin_: list) -> None:
    root = None
    for x in bin_:
        x.left = x.right = None
        if root is None:
            x.parent, x.red, root = None, False, x
            continue
        _attach(root, x)
        root = _balance(root, x)
    bin_.remove(root)
    bin_.insert(0, root)


def _tree_put(bin_: list, x: _Node) -> None:
    x.left = x.right = None
    xp = _attach(bin_[0], x)
    bin_.insert(bin_.index(xp) + 1, x)
    root = _balance(bin_[0], x)
    bin_.remove(root)
    bin_.insert(0, root)


def _attach(root: _Node, x: _Node) -> _Node:
    """Link ``x`` as a leaf of the tree at ``root``; returns its parent."""
    p = root
    while True:
        xp, d = p, _dir(x, p)
        p = p.left if d <= 0 else p.right
        if p is None:
            break
    x.parent = xp
    if d <= 0:
        xp.left = x
    else:
        xp.right = x
    return xp


def _balance(root: _Node, x: _Node) -> _Node:
    # HashMap.TreeNode.balanceInsertion
    x.red = True
    while True:
        xp = x.parent
        if xp is None:
            x.red = False
            return x
        xpp = xp.parent
        if not xp.red or xpp is None:
            return root
        if xp is xpp.left:
            uncle = xpp.right
            if uncle is not None and uncle.red:
                uncle.red = xp.red = False
                xpp.red = True
                x = xpp
                continue
            if x is xp.right:
                x = xp
                root = _rotate(root, x, left=True)
                xp = x.parent
                xpp = xp.parent if xp is not None else None
            if xp is not None:
                xp.red = False
                if xpp is not None:
                    xpp.red = True
                    root = _rotate(root, xpp, left=False)
        else:
            uncle = xpp.left
            if uncle is not None and uncle.red:
                uncle.red = xp.red = False
                xpp.red = True
                x = xpp
                continue
            if x is xp.left:
                x = xp
                root = _rotate(root, x, left=False)
                xp = x.parent
                xpp = xp.parent if xp is not None else None
            if xp is not None:
                xp.red = False
                if xpp is not None:
                    xpp.red = True
                    root = _rotate(root, xpp, left=True)


def _rotate(root: _Node, p: _Node, left: bool) -> _Node:
    # HashMap.TreeNode.rotateLeft / rotateRight
    c = p.right if left else p.left
    if c is None:
        return root
    inner = c.left if left else c.right
    if left:
        p.right = inner
    else:
        p.left = inner
    if inner is not None:
        inner.parent = p
    pp = c.parent = p.parent
    if pp is None:
        root = c
        c.red = False
    elif pp.left is p:
        pp.left = c
    else:
        pp.right = c
    if left:
        c.left = p
    else:
        c.right = p
    p.parent = c
    return root


def _java_key(dt: T.DataType) -> tuple[Callable, Callable] | None:
    """(hashCode() as an unsigned 32-bit int, a sort key ordered as
    compareTo()) of the boxed JVM key, each taking the Arrow Python key;
    None for key types whose JVM hash is not a function of the value
    (binary, arrays and structs hash by identity)."""
    if isinstance(dt, T.StringType):
        # String compares by UTF-16 code unit
        return _string_hash, lambda k: k.encode("utf-16-be")
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return (lambda k: k & 0xFFFFFFFF), _same
    if isinstance(dt, T.LongType):
        return _long_hash, _same
    if isinstance(dt, T.BooleanType):
        return (lambda k: 1231 if k else 1237), _same
    if isinstance(dt, T.DoubleType):
        return (lambda k: _long_hash(_double_bits(k))), _float_order(_double_bits)
    if isinstance(dt, T.FloatType):
        return (lambda k: _float_bits(k) & 0xFFFFFFFF), _float_order(_float_bits)
    if isinstance(dt, T.DecimalType):
        return _decimal_hash, _same
    # dates travel as Integer days, timestamps as Long microseconds
    if isinstance(dt, T.DateType):
        return (lambda k: (k - _EPOCH_DATE).days & 0xFFFFFFFF), _same
    if isinstance(dt, T.TimestampType):
        return (lambda k: _long_hash((k - _EPOCH_UTC) // _MICRO)), _same
    if isinstance(dt, T.TimestampNTZType):
        return (lambda k: _long_hash((k - _EPOCH) // _MICRO)), _same
    return None


def _same(k):
    return k


def _double_bits(k: float) -> int:
    # doubleToLongBits: signed, one canonical NaN
    return 0x7FF8000000000000 if k != k else struct.unpack(">q", struct.pack(">d", k))[0]


def _float_bits(k: float) -> int:
    # floatToIntBits: signed, one canonical NaN
    return 0x7FC00000 if k != k else struct.unpack(">i", struct.pack(">f", k))[0]


def _float_order(bits: Callable) -> Callable:
    # Double/Float.compareTo: numeric, then by bits (-0.0 < 0.0, NaN last)
    return lambda k: (float("inf") if k != k else k, bits(k))


_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=datetime.timezone.utc)
_EPOCH_DATE = _EPOCH.date()
_MICRO = datetime.timedelta(microseconds=1)


def _string_hash(s: str) -> int:
    h = 0
    units = s.encode("utf-16-be")
    for i in range(0, len(units), 2):
        h = (31 * h + (units[i] << 8 | units[i + 1])) & 0xFFFFFFFF
    return h


def _long_hash(v: int) -> int:
    u = v & 0xFFFFFFFFFFFFFFFF
    return (u ^ (u >> 32)) & 0xFFFFFFFF


def _decimal_hash(d) -> int:
    # java.math.BigDecimal: 31 * unscaledValue().hashCode() + scale, where
    # BigInteger hashes its big-endian 32-bit magnitude words times signum
    sign, digits, exp = d.as_tuple()
    unscaled = int("".join(map(str, digits)) or "0")
    h = 0
    for shift in range(32 * ((unscaled.bit_length() + 31) // 32 - 1), -1, -32):
        h = (31 * h + ((unscaled >> shift) & 0xFFFFFFFF)) & 0xFFFFFFFF
    if sign and unscaled:
        h = -h & 0xFFFFFFFF
    return (31 * h - exp) & 0xFFFFFFFF
