"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests need no Spark: each result check passes on the
generator's answer and fires once one expected value is perturbed. The
Spark tests show that the warm-result guard fires on a re-collected
DataFrame, and that two traced runs at one seed count the same work.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402


class _Row(dict):
    def __getattr__(self, k):
        return self[k]


def _kv(seed=3):
    wl = object.__new__(workloads.KvScan)
    wl.items = gen.kv_items(seed)
    wl.expected = gen.expected_kv_groups(wl.items)
    return wl


def test_kv_check_fires_on_perturbed_expected():
    wl = _kv()
    rows = [_Row(prefix=p, n=n, bytes=b, crc=c) for p, (n, b, c) in wl.expected.items()]
    assert wl._check(rows) == []
    p = sorted(wl.expected)[7]
    n, b, c = wl.expected[p]
    wl.expected[p] = (n, b + 1, c)
    assert wl._check(rows)


def test_kv_expected_sees_a_swapped_value():
    """Two values of equal length traded between keys of one prefix keep
    count and bytes; the CRC of key‖value still moves."""
    items = gen.kv_items(3)
    by_len: dict = {}
    for k, v in items.items():
        by_len.setdefault((gen.kv_prefix(k), len(v)), []).append(k)
    a, b = next(ks for ks in by_len.values() if len(ks) > 1)[:2]
    swapped = dict(items)
    swapped[a], swapped[b] = items[b], items[a]
    assert gen.expected_kv_groups(swapped) != gen.expected_kv_groups(items)


def test_enrich_checks_fire_on_perturbed_expected():
    wl = object.__new__(workloads.EnrichWrite)
    wl.want_hash = gen.expected_hash(gen.hash_items(3))
    wl.want_lookup = gen.expected_lookup(3)
    assert wl._check_hash([tuple(wl.want_hash)]) == []
    assert wl._check_lookup([tuple(wl.want_lookup)]) == []
    rows_h, rows_l = [tuple(wl.want_hash)], [tuple(wl.want_lookup)]
    wl.want_hash = (wl.want_hash[0], wl.want_hash[1], wl.want_hash[2] + 1)
    wl.want_lookup = (wl.want_lookup[0], wl.want_lookup[1] - 1, *wl.want_lookup[2:])
    assert wl._check_hash(rows_h)
    assert wl._check_lookup(rows_l)


def test_command_check_fires():
    assert workloads.check_commands({"SCAN": 25, "MGET": 25}, {"SCAN": 25, "MGET": 25}) == []
    assert workloads.check_commands({"SCAN": 25}, {"SCAN": 25, "MGET": 25})
    assert workloads.check_commands({"SCAN": 25, "MGET": 24}, {"SCAN": 25, "MGET": 25})


def test_mget_call_count():
    # 25 000 rows in 2 partitions, Arrow batches of 10 000, MGET chunks of 2048
    assert gen.lookup_mget_calls(25_000, 2, 10_000, 2048) == 2 * (5 + 2)
    assert gen.lookup_mget_calls(50_000, 2, 10_000, 2048) == 2 * (2 * 5 + 3)


def test_benchmark_json_lists_every_per_layer_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    for w in bench["workloads"]:
        assert w["why"] == workloads.WORKLOADS[w["name"]].why


# -- with Spark ---------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark")))
    from duckdb_redis_olap_scanner_spark import get_spark

    s = get_spark(app_name="perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_warm_guard_fires_on_recollected_dataframe(spark):
    import spark_stats
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count()
    probe = spark_stats.ActionProbe(spark)
    probe.begin("fresh")
    df.collect()
    fresh = probe.end()
    probe.begin("again")
    df.collect()
    again = probe.end()
    assert fresh["warm_stages"] == 0 and fresh["tasks"] > 0
    assert again["warm_stages"] > 0


def test_lookup_sql_matches_python_twin(spark):
    """The SQL rules that regenerate the write-back rows agree with the
    Python rules that seeded the keyspace."""
    from pyspark.sql import functions as F

    seed, n = 5, 2000
    sql = gen.lookup_sql(seed)
    got = spark.range(0, n).select(
        "id", *(F.expr(e).alias(k) for k, e in sql.items())).collect()
    want = [(i, gen.lookup_key(i), gen.lookup_missing(seed, i), gen.lookup_value(seed, i))
            for i in range(n)]
    assert [(r["id"], r["key"], r["missing"], r["value"]) for r in got] == want
    assert 0.05 * n < sum(w[2] for w in want) < 0.15 * n


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-3000:]
    with open(os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-{seed}.json")) as f:
        spans = json.load(f)
    ids = {(s["id"], s["trace"]) for s in spans}
    assert all(s["parent"] is None or (s["parent"], s["trace"]) in ids for s in spans)
    assert any(s["parent"] is None for s in spans)
    return {k: v["value"] for k, v in result["metrics"].items()}


REPEATED_COUNTS = (
    "transport.commands", "transport.bytes_in", "transport.bytes_out",
    "sources.batches", "sources.rows", "sources.handoff_bytes",
    "functions.mget_calls", "plans.tasks",
)


@pytest.mark.parametrize("workload", ["kv_scan", "enrich_write"])
def test_traced_counts_repeat(workload):
    a, b = _traced(workload, 11), _traced(workload, 11)
    assert {k: a[k] for k in REPEATED_COUNTS} == {k: b[k] for k in REPEATED_COUNTS}
    assert a["transport.commands"] > 0 and a["sources.rows"] > 0
