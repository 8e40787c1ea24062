"""The fake Redis server of a run, in a process of its own.

``testing.FakeRedisServer`` is pure Python; run inside the benchmark
process it would share that interpreter's lock with the Spark driver. Here it
runs alone, seeded from the workload seed, and counts the commands it
serves. Its CPU time is read from ``/proc`` by the parent and reported
as the floor no change to the engine can go below.

Child protocol, one line each way: the child prints a JSON ready line
(``port``, ``seed_s``), then answers ``stats`` on stdin with
the cumulative per-command counts; ``stop`` or end of input shuts it
down.

Run standalone: ``python3 perfbench/server.py kv_scan 7``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seed(srv, workload: str, seed: int) -> None:
    import gen

    if workload == "kv_scan":
        srv.seed_strings(gen.kv_items(seed))
    else:
        hashes, strings = gen.enrich_keyspace(seed)
        srv.seed_strings(strings)
        srv.seed_hashes(hashes)


def serve(workload: str, seed: int) -> None:
    sys.path.insert(0, ROOT)
    from duckdb_redis_olap_scanner_spark import testing

    counts: Counter = Counter()
    lock = threading.Lock()
    dispatch = testing._Handler._dispatch

    def counting_dispatch(self, store, cmd):
        with lock:
            counts[cmd[0].upper()] += 1
        return dispatch(self, store, cmd)

    testing._Handler._dispatch = counting_dispatch
    srv = testing.FakeRedisServer()
    t0 = time.perf_counter()
    _seed(srv, workload, seed)
    seed_s = time.perf_counter() - t0
    srv.start()
    print(json.dumps({"port": srv.port, "seed_s": seed_s}), flush=True)
    try:
        for line in sys.stdin:
            if line.strip() != "stats":
                break
            with lock:
                snap = dict(counts)
            print(json.dumps({"commands": snap}), flush=True)
    finally:
        srv.stop()


class ServerProcess:
    """Parent-side handle on the server process."""

    def __init__(self, workload: str, seed: int) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workload, str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=ROOT,
        )
        line = self._proc.stdout.readline()
        if not line:
            self._proc.wait(timeout=10)
            raise RuntimeError(f"fake server exited with {self._proc.returncode}")
        ready = json.loads(line)
        self.host = "127.0.0.1"
        self.port = int(ready["port"])
        self.seed_s = float(ready["seed_s"])
        self._tick = os.sysconf("SC_CLK_TCK")

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def cpu_s(self) -> float:
        """User plus system CPU seconds the server has used so far."""
        with open(f"/proc/{self._proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick

    def commands(self) -> Counter:
        """Cumulative per-command counts served so far."""
        self._proc.stdin.write("stats\n")
        self._proc.stdin.flush()
        return Counter(json.loads(self._proc.stdout.readline())["commands"])

    def close(self) -> None:
        if self._proc.poll() is None:
            try:
                self._proc.stdin.write("stop\n")
                self._proc.stdin.close()
                self._proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self._proc.kill()
                self._proc.wait(timeout=10)
        self._proc.stdout.close()


if __name__ == "__main__":
    serve(sys.argv[1], int(sys.argv[2]))
