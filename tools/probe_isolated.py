"""Isolated per-query bench probe — the arbitration protocol the r7/r8
flag verdicts used (both closed the flags as environmental: t_exact_dedup
and s_ann_cosine_bruteforce ran at or below their anchors in isolation),
packaged as a tool: fresh process, bench
warm-up, min-of-5 for ONE query, the frozen drift probe on the same hot
session, and the cross-round normalized value.

Usage: python tools/probe_isolated.py <query_name> [sf_dir]
Prints one JSON line: {"query", "runs", "min", "probe_ratio",
"normalized"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from seafowl_spark.queries import load_all
from seafowl_spark.session import DEFAULT_SF_DIR, build_session

N_RUNS = 5


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR
    )
    registry = load_all()
    spark = build_session("seafowl_spark_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py: q01 + one pandas-UDF pass
    registry["q01_pricing_summary"].fn(spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("long")
    def _noop_py(s):
        return s

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 100, 1, cores).select(_noop_py("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    fn = registry[name].fn
    runs = []
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(round(time.perf_counter() - t0, 3))

    from bench import ERA_BASELINE_SEC
    from tools.drift_probe import run_probe

    drift = run_probe(spark, sf_dir)
    ratio = drift["ratio"] or 1.0
    print(
        json.dumps(
            {
                "query": name,
                "runs": runs,
                "min": min(runs),
                "probe_ratio": ratio,
                # era ratio (r12): ~1.0 on an idle current-era host —
                # the contention yardstick; `probe_ratio` stays on the
                # r6 scale for normalized cross-round reads
                "probe_era_ratio": round(
                    drift["sec"] / ERA_BASELINE_SEC, 3
                ),
                "normalized": round(min(runs) / ratio, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
