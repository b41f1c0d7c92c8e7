"""SQL -> Spark type mapping (SURVEY.md §1.2; reference
src/datafusion/utils.rs:47-178 `convert_simple_data_type`).

Columns default to nullable (reference utils.rs:29-33). Documented
divergences from the reference (Spark has no unsigned ints / TIME):
unsigned types widen to the next signed type; TIME maps to BIGINT
microseconds-of-day. As an extension beyond the reference (which rejects
them, utils.rs:110-176), ARRAY/STRUCT/MAP Spark-native types are accepted.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T


class TypeError_(Exception):
    pass


_SIMPLE: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int2": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "int4": T.IntegerType(),
    "bigint": T.LongType(),
    "int8": T.LongType(),
    # unsigned: widen to next signed type (divergence, documented)
    "unsigned tinyint": T.ShortType(),
    "unsigned smallint": T.IntegerType(),
    "unsigned int": T.LongType(),
    "unsigned integer": T.LongType(),
    "unsigned bigint": T.DecimalType(20, 0),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "float4": T.FloatType(),
    "double": T.DoubleType(),
    "double precision": T.DoubleType(),
    "float8": T.DoubleType(),
    "char": T.StringType(),
    "varchar": T.StringType(),
    "text": T.StringType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "timestamp with time zone": T.TimestampType(),
    "timestamp without time zone": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "date": T.DateType(),
    # TIME has no Spark type: microseconds-of-day (divergence, documented)
    "time": T.LongType(),
    "bytea": T.BinaryType(),
    "binary": T.BinaryType(),
}

_REJECTED = ("json", "jsonb", "uuid", "enum", "blob", "clob", "xml")


def parse_sql_type(sql_type: str) -> T.DataType:
    s = sql_type.strip().lower()
    s = re.sub(r"\s+", " ", s)
    # strip length args for char/varchar
    m = re.match(r"^(var)?char\s*\(\s*\d+\s*\)$", s)
    if m:
        return T.StringType()
    m = re.match(r"^(numeric|decimal)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$", s)
    if m:
        # bare NUMERIC defaults to (38, 10) like the reference
        # (DECIMAL_DEFAULT_SCALE, reference utils.rs:195)
        p = int(m.group(2)) if m.group(2) else 38
        sc = int(m.group(3)) if m.group(3) else (0 if m.group(2) else 10)
        if p > 38:
            raise TypeError_(f"decimal precision {p} exceeds 38")  # same cap as reference
        return T.DecimalType(p, sc)
    if s in _SIMPLE:
        return _SIMPLE[s]
    for r in _REJECTED:
        if s.startswith(r):
            raise TypeError_(f"type {sql_type!r} is not supported")
    # extension: Spark-native complex types (array<...>, struct<...>, map<...>)
    try:
        return T.StructType.fromDDL(f"x {sql_type}")["x"].dataType
    except Exception as exc:  # noqa: BLE001
        raise TypeError_(f"unknown SQL type: {sql_type!r}") from exc


def columns_to_schema(cols: list[tuple[str, str]]) -> T.StructType:
    """[(name, sql_type)] -> StructType, all nullable (reference default)."""
    return T.StructType(
        [T.StructField(name, parse_sql_type(t), nullable=True) for name, t in cols]
    )


def quote_ident(name: str) -> str:
    """Backtick-quote one identifier for Spark SQL."""
    return "`" + name.replace("`", "``") + "`"


def type_sql(dt: T.DataType) -> str:
    """Spark's SQL rendering of a type (JVM ``DataType.sql``, which the
    Python types lack): nested struct field names are quoted, so a field
    such as ``x y`` round-trips through a CAST or DDL string, where
    ``simpleString()`` would emit an unparseable ``struct<x y:int>``."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{quote_ident(f.name)}: {type_sql(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{type_sql(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{type_sql(dt.keyType)}, {type_sql(dt.valueType)}>"
    return dt.simpleString()


def to_ddl(fields) -> str:
    """DDL column list for ``fields`` (StructFields) that parses back to the
    same names and types, nested and special-character names included."""
    return ", ".join(f"{quote_ident(f.name)} {type_sql(f.dataType)}" for f in fields)
