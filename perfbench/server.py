"""Benchmark server process: one SparkSession and one SeafowlContext behind
the HTTP and Arrow Flight frontends, the same wiring as tools/serve.py.

Started by run.py, never by hand. Protocol on stdin/stdout, one line each:

* stdout ``READY <http_port> <flight_port>`` once both frontends listen;
* stdin ``trace on`` / ``trace off`` switches span recording (only with
  ``--trace 1``, which installs the wrappers from tracing.py at start-up);
* stdin ``dump <path>`` writes the recorded spans and per-op Spark job
  counts to <path> as JSON and answers ``DUMPED``;
* EOF on stdin shuts the frontends down and exits (run.py kills the
  process group instead when it is done).

Usage: python3 perfbench/server.py --data DIR --work DIR [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.install()

    from seafowl_spark.engine.context import SeafowlContext
    from seafowl_spark.engine.flight import start_flight_server
    from seafowl_spark.engine.server import SeafowlServer
    from seafowl_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.local.dir": os.path.join(args.work, "spark-local"),
    }
    if tracer is not None:
        # keep every job of the run for the per-op counts at dump time
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    spark = build_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = SeafowlContext(spark, args.data, allow_python_udfs=False)
    http = SeafowlServer(ctx, port=0).start()
    fl = start_flight_server(ctx, port=0)
    if tracer is not None:
        tracer.bind(spark)
    print(f"READY {http.port} {fl.port}", flush=True)

    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "trace" and tracer is not None:
            tracer.enabled = arg == "on"
        elif cmd == "dump" and tracer is not None:
            with open(arg, "w") as f:
                json.dump(tracer.dump(), f)
        print("DUMPED" if cmd == "dump" else "OK", flush=True)
    http.stop()
    fl.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
