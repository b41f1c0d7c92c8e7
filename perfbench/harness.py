"""Plumbing shared by the workloads: the server process, the HTTP and
Flight clients, host readings and summary statistics."""

from __future__ import annotations

import hashlib
import http.client
import io
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine package, for reading table logs


class BenchError(Exception):
    """The benchmark cannot run (missing engine, server died, bad reply)."""


# ------------------------------------------------------------------ server


class Server:
    """One engine server process (perfbench/server.py) and its JVM."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.data = os.path.join(work, "data")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            # local[nproc]: the CPUs this process may run on
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            # every JVM (spark-submit's launcher too) keeps its files here
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--data", self.data,
             "--work", work, "--trace", "1" if trace else "0"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=work, env=env, start_new_session=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 3 or line[0] != "READY":
            self.close()
            raise BenchError(f"server failed to start; see {self.log.name}")
        self.http_port, self.flight_port = int(line[1]), int(line[2])

    def command(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline()
        if not reply:
            raise BenchError(f"server exited during {cmd!r}")
        return reply.strip()

    def peak_rss_mb(self) -> float:
        """Peak resident set of the server process plus its JVM."""
        total = 0
        for pid in [self.proc.pid] + _descendants(self.proc.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total / 1024.0

    def close(self) -> None:
        """Kill the server, its JVM and any python workers (they share the
        server's process group). Nothing is left to flush: every table
        write was acknowledged before its reply."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(100):  # until the group's last member has exited
            if not [p for p, st in _processes().items() if st[2] == self.proc.pid and st[0] != "Z"]:
                break
            time.sleep(0.1)
        self.proc.stdin.close()
        self.proc.stdout.close()
        self.log.close()


def _processes() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, parent pid, process group) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                out[int(d)] = (fields[0], int(fields[1]), int(fields[2]))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, (_, ppid, _) in _processes().items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# ------------------------------------------------------------------ clients


class Http:
    """The HTTP frontend. The server speaks HTTP/1.0, so each request opens
    its own connection; requests are strictly sequential."""

    def __init__(self, port: int, op_header: bool):
        self.port = port
        self.op_header = op_header
        self.op = 0

    def request(self, method: str, path: str, body: bytes = b"", headers=None):
        headers = dict(headers or {})
        if self.op_header:
            headers["X-Perfbench-Op"] = str(self.op)
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, dict(resp.getheaders()), resp.read()
        finally:
            conn.close()

    def post(self, sql: str):
        return self.request(
            "POST", "/q", json.dumps({"query": sql}).encode(),
            {"Content-Type": "application/json"},
        )

    def get(self, sql: str, etag: str | None):
        headers = {"X-Seafowl-Query": sql}
        if etag:
            headers["If-None-Match"] = etag
        digest = hashlib.sha256(sql.encode()).hexdigest()
        return self.request("GET", f"/q/{digest}", b"", headers)

    def upload(self, table: str, arrow_table) -> None:
        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(arrow_table, buf)
        boundary = "perfbench-boundary"
        body = (
            f"--{boundary}\r\nContent-Disposition: form-data; name=\"data\"; "
            f"filename=\"{table}.parquet\"\r\n"
            "Content-Type: application/octet-stream\r\n\r\n"
        ).encode() + buf.getvalue() + f"\r\n--{boundary}--\r\n".encode()
        status, _, reply = self.request(
            "POST", f"/upload/public/{table}", body,
            {"Content-Type": f"multipart/form-data; boundary={boundary}"},
        )
        if status != 200:
            raise BenchError(f"upload of {table} failed: {status} {reply[:200]!r}")


def rows(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.splitlines() if line.strip()]


# ------------------------------------------------------------------ host


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    return 100.0 * (end[0] - start[0]) / max(1, end[1] - start[1])


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def snapshot_bytes(data_dir: str) -> int:
    """Bytes of the files in every table's current snapshot: data files plus
    their deletion-vector files, as deltalite replays its log."""
    from seafowl_spark.engine.deltalite import DeltaLiteTable

    total = 0
    for entry in os.listdir(data_dir):
        table = DeltaLiteTable(None, os.path.join(data_dir, entry))
        if not table.exists():
            continue
        for f in table.snapshot().files:
            total += f.size_bytes
            if f.dv:
                total += os.path.getsize(os.path.join(table.root, f.dv["path"]))
    return total


# ------------------------------------------------------------------ stats


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Recorder:
    """Latencies per op class plus the failed-op ledger."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed: list[str] = []
        self.known_defects: dict[str, int] = {}
        self.conditional_gets = 0  # GETs sent with If-None-Match
        self.changed_rows_traced = 0

    def add(self, cls: str, ms: float) -> None:
        self.lat.setdefault(cls, []).append(ms)

    def fail(self, what: str) -> None:
        self.failed.append(what)

    def known(self, name: str) -> None:
        self.known_defects[name] = self.known_defects.get(name, 0) + 1

    def p(self, cls: str, q: float) -> float:
        return percentile(self.lat.get(cls, []), q)

    def count(self, cls: str) -> int:
        return len(self.lat.get(cls, []))
