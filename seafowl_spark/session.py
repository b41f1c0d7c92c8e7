"""SparkSession builder tuned for the engine.

Scale design notes (these matter at 100 TB / 1000 executors, not just local):

* AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace the hand-tuned physical planning the
  reference delegates to DataFusion (reference src/context/physical.rs:771).
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. On a real cluster this should be ~2-3x total cores —
  here it defaults to the local core count.
* Broadcast threshold raised to 64 MiB: TPC-H-shaped dims (region, nation,
  customer, supplier, part) stay broadcast even at sf100, eliminating
  shuffles on the probe side (lineitem/orders).
* Session timezone pinned to UTC so timestamp semantics match the oracle
  (DuckDB) and are cluster-independent.
* Parquet written with zstd, matching the reference's storage defaults
  (reference src/context/delta.rs:83).
* ANSI mode stays ON (Spark 4 default): overflow/cast errors surface instead
  of silently wrapping, matching DataFusion/DuckDB behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    n = os.environ.get("SPARK_GRAFT_CPUS")
    if n:
        return int(n)
    return os.cpu_count() or 4


def build_session(
    app_name: str = "seafowl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    The same builder serves tests (local[*]), bench (local[$SPARK_GRAFT_CPUS])
    and would serve a real cluster (master unset -> spark-submit decides).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (guide §2.2/§2.5): AQE's coalescing already sizes post-shuffle
        # partitions to the cluster's parallelism (coalescePartitions.
        # parallelismFirst=true, the default), but it never goes below
        # minPartitionSize, whose 1 MiB default collapses every MB-scale
        # shuffle to a handful of tasks (measured: q_window_topk's window
        # stage ran 4 tasks on 32 cores, q_asof_join's union+window 5).
        # Lowering the FLOOR is scale-neutral: at 100 TB no post-shuffle
        # partition is near 64 KiB, so the setting never binds there — it
        # only stops tiny-input stages from losing the cluster. Env-
        # overridable for deployments that want the stock floor back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        # r13 (guide §6): listing a partitioned dir with more than this
        # many paths runs as a SPARK JOB — the 64-bucket search-index
        # artifacts tripped the stock threshold (32) and every index
        # lookup paid a 64-task listing job at plan time. A driver lists
        # a few hundred local/posix dirs in microseconds; genuinely huge
        # object-store layouts still parallelize above the raised bound.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARALLEL_LISTING_THRESHOLD", "256"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TESTDATA events.ts is TIMESTAMP(NANOS): read as BIGINT, converted
        # back to a us timestamp in io.table (Spark has no ns timestamps,
        # same constraint the reference coerces around in physical.rs:856-886)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # keep executor-side python workers warm for pandas UDFs
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
