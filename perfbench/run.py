"""Benchmark entry point.

    python3 perfbench/run.py --workload kv_scan --seed 1 --seconds 15 --trace 0

Run from the repository root. One closed-loop client (this process)
drives Spark ``local[nproc]`` against a fake Redis server in its own
process. With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` the per-layer ones. Human-readable lines come first, and
the last line of standard output is the JSON result. Working files go
to ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Set-ups after the first, each after ``spark.stop()``: setup_s is the
# median of all of them.
RESETUPS = 4
# Warm iterations a run makes even when they outlast ``--seconds``.
MIN_WARM = 2
WORKLOAD_NAMES = ("kv_scan", "enrich_write")
END_TO_END = {"setup_s": "s", "first_query_s": "s", "query_s": "s"}

PLANS = ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
         "executor_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def per_layer_names() -> list[str]:
    return [
        "engine.get_spark_s", "engine.register_s", "engine.connect_s",
        "transport.commands", "transport.round_trips", "transport.bytes_in",
        "transport.scan_s", "transport.mget_s", "transport.hgetall_s",
        "transport.errors", "transport.replay_mget_page_s",
        "transport.replay_hgetall_page_s", "transport.replay_elems_per_s",
        "transport.bytes_out", "transport.encode_s", "transport.write_pipeline_s",
        "transport.self_s",
        "sources.read_s", "sources.self_s", "sources.batches", "sources.rows",
        "sources.handoff_bytes", "sources.write_s", "sources.write_self_s",
        "functions.redis_get_s", "functions.self_s", "functions.mget_calls",
        "functions.null_keys",
        *(f"plans.{p}" for p in PLANS), "plans.self_s",
        "testing.server_cpu_s", "testing.server_busy_ratio",
        "testing.server_commands", "testing.seed_s",
        "trace.query_s", "trace.unattributed_s", "trace.overhead_s",
    ]


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.startswith("transport.bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def prepare_env(run_dir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory, and size Spark to this host (``get_spark`` otherwise
    defaults to ``local[32]``)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None


def stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def handoff_bytes(iterations: list) -> list[int]:
    """Bytes the Python source handed to the JVM in each iteration after
    the first. BatchScan's ``pythonDataReceived`` accumulates over the
    session's actions, so an action's bytes are the increase over the
    previous action of the same name."""
    out, last = [], {}
    for it in iterations:
        total = 0
        for a in it:
            v = a.plan.get("BatchScan.pythonDataReceived", 0)
            total += v - last.get(a.name, 0)
            last[a.name] = v
        out.append(total)
    return out[1:]


def iteration_stats(iterations: list) -> dict[str, float]:
    """Per-iteration sums over actions, median over warm iterations
    (all but the first)."""
    warm = iterations[1:]
    out: dict[str, float] = {}
    for p in PLANS:
        out[f"plans.{p}"] = median(sum(a.stats[p] for a in it) for it in warm)
    out["sources.handoff_bytes"] = median(handoff_bytes(iterations))
    out["testing.server_cpu_s"] = median(sum(a.server_cpu_s for a in it) for it in warm)
    out["testing.server_busy_ratio"] = median(
        sum(a.server_cpu_s for a in it) / sum(a.wall_s for a in it) for it in warm)
    out["testing.server_commands"] = median(
        sum(sum(a.commands.values()) for a in it) for it in warm)
    return out


def traced_direct(wl, seconds: float, trace_path: str) -> dict[str, float]:
    """Alternate untraced and traced in-process iterations. Counts come
    from the first traced iteration (the same server state on every run
    at a seed); times are medians over the traced iterations."""
    from tracing import Tracer, layer_times

    null = lambda name: contextlib.nullcontext()  # noqa: E731
    tracer = Tracer()
    wl.direct(null)  # warm-up: imports, connections, JIT of the Spark part
    plain, traced, counts = [], [], None
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        wl.direct(null)
        plain.append(time.perf_counter() - t0)
        before = dict(tracer.counts)
        tracer.install()
        try:
            with tracer.span(f"{wl.name}.iteration") as root:
                wl.direct(tracer.span)
        finally:
            tracer.uninstall()
        traced.append(root.trace)
        if counts is None:
            counts = {k: v - before.get(k, 0) for k, v in tracer.counts.items()}
            counts.update(wl.direct_counts)
            counts["functions.mget_calls"] = tracer.count_under(
                root.trace, "transport.mget", "functions.redis_get")
    tracer.dump(trace_path)
    if tracer.orphans():
        raise RuntimeError(f"{tracer.orphans()} span(s) lost their parent")

    per = [layer_times(tracer, t) for t in traced]

    def med(key):
        return median(p.get(key, 0.0) for p in per)

    out = {f"transport.{k}": counts.get(k, 0)
           for k in ("commands", "round_trips", "bytes_in", "bytes_out", "errors")}
    for k in ("sources.batches", "sources.rows", "functions.mget_calls", "functions.null_keys"):
        out[k] = counts.get(k, 0)
    for k in ("scan", "mget", "hgetall", "encode", "write_pipeline"):
        out[f"transport.{k}_s"] = med(f"transport.{k}")
    out["transport.self_s"] = median(
        sum(v for k, v in p.items() if k.startswith("transport.") and k.endswith(".self"))
        for p in per)
    out["sources.read_s"] = med("sources.read")
    out["sources.self_s"] = med("sources.read.self")
    out["sources.write_s"] = med("sources.write")
    out["sources.write_self_s"] = med("sources.write.self")
    out["functions.redis_get_s"] = med("functions.redis_get")
    out["functions.self_s"] = med("functions.redis_get.self")
    out["plans.self_s"] = med("plans.downstream.self")
    out["trace.query_s"] = med(f"{wl.name}.iteration")
    out["trace.unattributed_s"] = med(f"{wl.name}.iteration.self")
    out["trace.overhead_s"] = out["trace.query_s"] - median(plain)
    return out


def run(args) -> int:
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir, cpus)
    sys.path.insert(0, ROOT)
    try:
        import duckdb_redis_olap_scanner_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import gen
    import pyarrow
    import pyspark
    from server import ServerProcess
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    t_fixture = time.perf_counter()
    server = ServerProcess(args.workload, args.seed)
    wl = None
    try:
        wl = cls(args.seed, server)
        fixture_s = time.perf_counter() - t_fixture
        setups = [wl.setup()]
        cold_setup_s = time.perf_counter() - T_PROCESS - fixture_s

        cold = wl.iteration()
        first_query_s = sum(a.wall_s for a in cold)
        iterations = [cold]
        layer: dict[str, float] = {}
        t_loop = time.perf_counter()
        budget = args.seconds / 2 if args.trace else args.seconds
        if args.trace:
            os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
            layer.update(traced_direct(
                wl, budget / 2,
                os.path.join(WORK, "out", f"trace-{args.workload}-{args.seed}.json")))
            layer.update(wl.replay(budget / 4))
            t_loop = time.perf_counter()
        warm: list = []
        while len(warm) < MIN_WARM or time.perf_counter() - t_loop < budget:
            warm.append(wl.iteration())
        iterations += warm
        after_errors = wl.after()

        for _ in range(RESETUPS):
            wl.stop()
            setups.append(wl.setup())
        totals = [cold_setup_s] + [sum(s.values()) for s in setups[1:]]
    finally:
        if wl is not None:
            wl.stop()
        stop_jvm()
        server.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    actions = [a for it in iterations for a in it]
    attempted = len(actions) + wl.after_checks
    errors = [e for a in actions for e in a.errors] + after_errors
    failed = sum(1 for a in actions if a.errors) + (1 if after_errors else 0)
    for e in errors[:10]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    query_s = median(sum(a.wall_s for a in it) for it in warm)
    sizes = gen.SIZES[args.workload]
    print(f"host: nproc={cpus} spark={pyspark.__version__} pyarrow={pyarrow.__version__} "
          f"python={platform.python_version()} seed={args.seed} workload={args.workload} "
          f"sizes={json.dumps(sizes)}")
    print(f"why: {cls.why}")
    print(f"setup_s {median(totals):.4f} s (median of {len(totals)}: "
          + ", ".join(f"{t:.3f}" for t in totals) + ")")
    print(f"first_query_s {first_query_s:.4f} s")
    print(f"query_s {query_s:.4f} s (median of {len(warm)} warm iterations: "
          + ", ".join(f"{sum(a.wall_s for a in it):.3f}" for it in warm) + ")")
    for name, (value, unit) in wl.rates(warm).items():
        print(f"{name} {value:.1f} {unit}")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed}/{attempted} actions)")
    srv_cpu = sum(a.server_cpu_s for a in actions)
    print(f"server_cpu_s {srv_cpu:.2f} s over all actions; fixture seed_s {server.seed_s:.3f} s")

    if args.trace:
        layer.update(iteration_stats(iterations))
        print("sources.handoff_bytes by warm iteration: "
              + ", ".join(map(str, handoff_bytes(iterations)))
              + "; BatchScan rows: " + ", ".join(
                  str(sum(a.plan.get("BatchScan.numOutputRows", 0) for a in it)) for it in warm))
        for k in setups[0]:
            layer[k] = median(s[k] for s in setups)
        layer["testing.seed_s"] = server.seed_s
        metrics = {n: layer.get(n, 0) for n in per_layer_names()}
        for n, v in metrics.items():
            print(f"{n} {v} {unit_of(n)}")
    else:
        metrics = {"setup_s": median(totals), "first_query_s": first_query_s,
                   "query_s": query_s}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": END_TO_END.get(n) or unit_of(n)}
                    for n, v in metrics.items()},
    }))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
