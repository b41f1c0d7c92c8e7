"""Serving benchmark for the seafowl_spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_catalog --seed 1 --seconds 20 --trace 0

Starts the engine server (HTTP + Arrow Flight) as a child process, loads
the workload's seeded data, runs a fixed untimed warm-up, then a timed
phase of a fixed number of ops sent by one closed-loop client. Every reply
is checked against the generator's model. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``report ...``) carries every other
figure of the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import BenchError, Http, Recorder, Server  # noqa: E402

WORKLOADS = ("serve_catalog", "ingest_cdc")
E2E = {  # name -> unit, as listed in BENCHMARK.json
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
}


def _workload(name: str):
    if name == "serve_catalog":
        import serve_catalog as mod
    else:
        import ingest_cdc as mod
    return mod


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    if not os.path.isfile(os.path.join(harness.ROOT, "seafowl_spark", "engine", "context.py")):
        raise BenchError("no engine sources (seafowl_spark/) next to perfbench/")
    import pyarrow.flight as flight

    mod = _workload(name)
    wl = mod.Workload(seed)
    # whole pattern cycles (ingest_cdc then flushes every change it sent);
    # a traced run switches recording per cycle
    block = len(wl.pattern)
    n_timed = max(1, round(seconds * mod.OPS_PER_SECOND / block)) * block
    work = os.path.join(harness.ROOT, ".perfbench_run", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    clock = time.perf_counter
    server = client = None
    try:
        t_launch = clock()
        server = Server(work, trace)
        http = Http(server.http_port, op_header=trace)
        client = flight.FlightClient(f"grpc://127.0.0.1:{server.flight_port}")
        warm = Recorder()
        wl.setup(http, client, warm, clock)
        if warm.failed:
            raise BenchError(f"warm-up failed: {warm.failed[0]}")
        setup_s = clock() - t_launch

        rec = Recorder()
        traced_ms = [0.0, 0.0]  # untraced / traced op time, for the overhead
        traced_ops = [0, 0]
        op_class: dict[int, str] = {}
        traced_writes = 0
        steal0 = harness.cpu_times()
        t0 = clock()
        for i, cls in enumerate(wl.ops(n_timed)):
            # blocks off, on, on, off, ...: a trend over the run does not
            # bias the traced blocks against the untraced ones
            on = trace and (i // block) % 4 in (1, 2)
            if trace and i % block == 0:
                server.command("trace on" if on else "trace off")
            http.op = i
            op_class[i] = cls
            traced_writes += on and cls in ("update", "insert")
            rec.attempted += 1
            before = clock()
            wl.do(cls, http, client, rec, clock)
            traced_ms[on] += (clock() - before) * 1e3
            traced_ops[on] += 1
        wall_s = clock() - t0
        steal = harness.steal_pct(steal0, harness.cpu_times())
        if trace:
            server.command("trace off")
        wl.probe(http, rec)
        rss_mb = server.peak_rss_mb()
        spans = None
        if trace:
            dump = os.path.join(work, "spans.json")
            server.command(f"dump {dump}")
            with open(dump) as f:
                spans = json.load(f)
        # the server is idle: every commit it acknowledged is on disk
        data = os.path.join(work, "data")
        amplification = harness.dir_bytes(data) / max(1, harness.snapshot_bytes(data))
    finally:
        if client is not None:
            client.close()
        if server is not None:
            server.close()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        "setup_s": setup_s,
        "ops_per_s": n_timed / wall_s,
        "read_p50_ms": rec.p("read", 50),
        "write_p50_ms": rec.p("write", 50),
    }
    report = {
        "workload": name, "seed": seed, "timed_ops": n_timed, "wall_s": wall_s,
        "samples": {c: len(v) for c, v in rec.lat.items()},
        **metrics,
        "host.steal_pct": steal, "server.rss_mb": rss_mb,
        "storage_amplification": amplification,
        "known_defects": rec.known_defects,
        "error_frac": (len(rec.failed) + sum(rec.known_defects.values())) / rec.attempted,
        "failures": rec.failed[:5],
        "latencies_ms": {c: [round(x, 1) for x in v] for c, v in rec.lat.items()},
    }
    for cls, v in rec.lat.items():
        report[f"{cls}_p50_ms"] = rec.p(cls, 50)
        # the highest percentile with at least ten samples beyond it
        for q in (90, 75):
            if len(v) * (100 - q) / 100 >= 10:
                report[f"{cls}_p{q}_ms"] = rec.p(cls, q)
                break
    report.update(wl.extra_metrics(rec))
    if trace:
        import layers

        rec.changed_rows_traced = traced_writes
        out = layers.per_layer(spans, rec)
        out["host.steal_pct"] = steal
        out["server.rss_mb"] = rss_mb
        per_op = [traced_ms[k] / max(1, traced_ops[k]) for k in (0, 1)]
        out["tracing.overhead_pct"] = 100.0 * (per_op[1] / per_op[0] - 1.0)
        report["self_ms_by_class"] = layers.self_time_by_class(spans, op_class)
        units = layers.UNITS
    else:
        out, units = metrics, E2E
    print("report " + json.dumps(report))
    return {
        "correct": not rec.failed,
        "attempted": rec.attempted,
        "failed": len(rec.failed),
        "metrics": {k: {"value": out[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
