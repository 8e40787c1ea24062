"""The workloads: what each runs, how each result is checked, and
the in-process decomposition of one iteration that the traced run
times layer by layer.

Every Spark action goes through ``Workload.act``: a fresh DataFrame, an
``ActionProbe`` around it (outside the timed region) and a check of its
result. An action fails when it raises, returns a wrong result, reuses
output of an earlier action (a warm result), or makes the fake server
serve other than the expected number of commands.
"""

from __future__ import annotations

import math
import statistics
import time

import gen
import spark_stats
import tracing

from duckdb_redis_olap_scanner_spark import Engine, get_spark
from duckdb_redis_olap_scanner_spark.transport.resp import DEFAULT_SCAN_COUNT


class Action:
    """The outcome of one timed Spark action."""

    def __init__(self, name: str, wall_s: float, errors: list[str], stats: dict,
                 commands: dict, server_cpu_s: float, plan: dict | None = None) -> None:
        self.name, self.wall_s, self.errors = name, wall_s, errors
        self.stats, self.commands, self.server_cpu_s = stats, commands, server_cpu_s
        self.plan = plan or {}


def check_equal(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, expected {want!r}"]


def check_commands(got: dict, want: dict) -> list[str]:
    """``want`` maps command → exact count served during the action."""
    return [
        f"server served {got.get(c, 0)} {c}, expected {n}"
        for c, n in want.items() if got.get(c, 0) != n
    ]


class Workload:
    name = ""
    why = ""
    after_checks = 0  # checks ``after`` makes, each one attempted action

    def __init__(self, seed: int, server) -> None:
        self.seed, self.server = seed, server
        self.spark = None
        self.engine = None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """``get_spark`` → ``Engine`` → ``connect``, timed per step."""
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.engine = Engine(self.spark)
        t2 = time.perf_counter()
        self.engine.connect(self.server.address)
        t3 = time.perf_counter()
        return {"engine.get_spark_s": t1 - t0, "engine.register_s": t2 - t1,
                "engine.connect_s": t3 - t2}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one action ---------------------------------------------------------
    def act(self, name: str, build, run, check, want_commands: dict,
            plan: bool = False) -> Action:
        """Build a fresh DataFrame and run it, timed together, then check
        the result."""
        probe = spark_stats.ActionProbe(self.spark)
        cmd0, cpu0 = self.server.commands(), self.server.cpu_s()
        probe.begin(name)
        errors: list[str] = []
        df = result = None
        t0 = time.perf_counter()
        try:
            df = build()
            result = run(df)
        except Exception as e:  # a failed action is counted, not fatal
            errors.append(f"{name} raised {type(e).__name__}: {e}"[:500])
        wall = time.perf_counter() - t0
        stats = probe.end()
        cpu = self.server.cpu_s() - cpu0
        cmd = self.server.commands()
        served = {c: n - cmd0.get(c, 0) for c, n in cmd.items() if n != cmd0.get(c, 0)}
        if not errors:
            errors += check(result)
            errors += check_commands(served, want_commands)
        if stats["warm_stages"]:
            errors.append(f"{name}: {stats['warm_stages']} stage(s) reused output of an earlier action")
        metrics = spark_stats.plan_metrics(df) if plan and not errors else None
        return Action(name, wall, errors, stats, served, cpu, metrics)

    # -- per-workload -------------------------------------------------------
    def iteration(self) -> list[Action]:
        """One timed iteration: the workload's actions, in order."""
        raise NotImplementedError

    def after(self) -> list[str]:
        """Checks made once the timed loop is over."""
        return []

    def direct(self, span) -> None:
        """One iteration through the layers called in this process, with
        ``span(name)`` around each layer; sets ``direct_counts``."""
        raise NotImplementedError

    def replay(self, budget_s: float) -> dict[str, float]:
        """Decode timings over recorded reply bytes, no server."""
        raise NotImplementedError

    def rates(self, warm: list[list[Action]]) -> dict[str, tuple[float, str]]:
        """Rows per second of each action, over its median wall."""
        raise NotImplementedError


def _median_wall(warm: list[list[Action]], name: str) -> float:
    return statistics.median(a.wall_s for it in warm for a in it if a.name == name)


def _replay(budget_s: float, run, want) -> list[float]:
    """Time ``run()`` over canned bytes until ``budget_s`` is spent
    (at least 20 times); every result must equal ``want``."""
    times: list[float] = []
    t_end = time.perf_counter() + budget_s
    while len(times) < 20 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        got = run()
        times.append(time.perf_counter() - t0)
        if got != want:
            raise RuntimeError("replayed reply decoded differently from the live one")
    return times


# -- kv_scan ------------------------------------------------------------------


class KvScan(Workload):
    name = "kv_scan"
    why = ("the paper's path: serial SCAN/MGET pages of ~250 KB replies, "
           "RESP decode and Arrow build dominate, Catalyst work is small")

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.items = gen.kv_items(self.seed)
        self.expected = gen.expected_kv_groups(self.items)
        self.pages = math.ceil(len(self.items) / DEFAULT_SCAN_COUNT)

    def _aggregate(self, df):
        from pyspark.sql import functions as F

        return df.groupBy(F.substring("key", 1, 4).alias("prefix")).agg(
            F.count("*").alias("n"),
            F.sum(F.length("value")).alias("bytes"),
            F.sum(F.crc32(F.concat("key", "value"))).alias("crc"),
        )

    def _check(self, rows) -> list[str]:
        got = {r["prefix"]: (r["n"], r["bytes"], r["crc"]) for r in rows}
        return check_equal("kv_scan groups", got, self.expected)

    def iteration(self) -> list[Action]:
        return [self.act(
            "read",
            lambda: self._aggregate(self.engine.redis_kv("*")),
            lambda df: df.collect(),
            self._check,
            {"SCAN": self.pages, "MGET": self.pages},
            plan=True,
        )]

    def rates(self, warm):
        return {"read_rows_per_s": (len(self.items) / _median_wall(warm, "read"), "rows/s")}

    def direct(self, span) -> None:
        import pyarrow as pa

        from duckdb_redis_olap_scanner_spark.sources.redis_source import RedisKVReader

        reader = RedisKVReader({"host": self.server.host, "port": str(self.server.port)})
        with span("sources.read"):
            batches = [b for p in reader.partitions() for b in reader.read(p)]
        with span("plans.downstream"):
            table = self.spark.createDataFrame(pa.Table.from_batches(batches))
            rows = self._aggregate(table).collect()
        self.direct_counts = {"sources.batches": len(batches),
                              "sources.rows": sum(b.num_rows for b in batches)}
        errs = self._check(rows)
        if errs:
            raise RuntimeError(errs[0])

    def replay(self, budget_s: float) -> dict[str, float]:
        from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

        def page(client):
            it = client.scan_iter(match="*", count=DEFAULT_SCAN_COUNT)
            keys = next(it)
            it.close()
            return keys, client.mget(keys)

        with RedisClient(self.server.host, self.server.port) as live:
            want, data = tracing.record(live, page)
        times = _replay(budget_s, lambda: page(tracing.canned_client(data)), want)
        t = statistics.median(times)
        elems = 1 + 2 * len(want[0])  # cursor, keys, values
        return {"transport.replay_mget_page_s": t, "transport.replay_elems_per_s": elems / t}


# -- enrich_write -------------------------------------------------------------


class EnrichWrite(Workload):
    name = "enrich_write"
    after_checks = 1
    why = ("the same transport used differently: RESP3 maps, pipelined "
           "HGETALL, the redis_get pandas-UDF boundary and the SET write path")

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        cfg = gen.SIZES["enrich_write"]
        self.hashes, self.strings = gen.enrich_keyspace(self.seed)
        self.n_lookup, self.parts = cfg["lookup_keys"], cfg["lookup_partitions"]
        self.want_hash = gen.expected_hash(self.hashes)
        self.want_lookup = gen.expected_lookup(self.seed)
        self.sql = gen.lookup_sql(self.seed)
        self.scan_pages = math.ceil(
            (len(self.hashes) + len(self.strings)) / DEFAULT_SCAN_COUNT)

    def _options(self, **extra) -> dict:
        return {"host": self.server.host, "port": str(self.server.port), **extra}

    # (a) redis_hash read
    def _hash_agg(self, df):
        from pyspark.sql import functions as F

        canon = ("crc32(concat(key, '|', array_join(array_sort(transform("
                 "map_entries(value), e -> concat(e.key, '=', e.value))), ',')))")
        return df.agg(F.count("*").alias("n"), F.sum(F.size("value")).alias("fields"),
                      F.expr(f"sum({canon})").alias("crc"))

    def _check_hash(self, rows) -> list[str]:
        return check_equal("redis_hash totals", tuple(rows[0]), self.want_hash)

    # (b) redis_get over spark.range
    def _lookup_df(self):
        from pyspark.sql import functions as F

        keys = self.spark.range(0, self.n_lookup, 1, self.parts).select(
            F.expr(self.sql["key"]).alias("key"))
        return keys.select("key", self.engine.redis_get_udf()("key").alias("value"))

    def _lookup_agg(self, df):
        from pyspark.sql import functions as F

        return df.agg(F.count("*"), F.count("value"), F.sum(F.length("value")),
                      F.sum(F.crc32(F.concat("key", F.lit("="), "value"))))

    def _check_lookup(self, rows) -> list[str]:
        return check_equal("redis_get totals", tuple(rows[0]), self.want_lookup)

    # (c) redis_kv write of the found rows
    def _write_df(self):
        from pyspark.sql import functions as F

        return (self.spark.range(0, self.n_lookup, 1, self.parts)
                .where(~F.expr(self.sql["missing"]))
                .select(F.expr(self.sql["key"]).alias("key"),
                        F.expr(self.sql["value"]).alias("value")))

    def _mget_calls(self) -> int:
        from duckdb_redis_olap_scanner_spark.functions.redis_fns import MGET_CHUNK

        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        return gen.lookup_mget_calls(self.n_lookup, self.parts, batch, MGET_CHUNK)

    def iteration(self) -> list[Action]:
        written = len(self.strings)
        return [
            self.act("read", lambda: self._hash_agg(self.engine.redis_hash("h:*")),
                     lambda df: df.collect(), self._check_hash,
                     {"SCAN": self.scan_pages, "HGETALL": len(self.hashes)}, plan=True),
            self.act("lookup", lambda: self._lookup_agg(self._lookup_df()),
                     lambda df: df.collect(), self._check_lookup,
                     {"MGET": self._mget_calls()}),
            self.act("write", self._write_df,
                     lambda df: df.write.format("redis_kv").options(**self._options())
                     .mode("append").save(),
                     lambda _: [], {"SET": written}),
        ]

    def rates(self, warm):
        return {
            "read_rows_per_s": (len(self.hashes) / _median_wall(warm, "read"), "rows/s"),
            "lookup_rows_per_s": (self.n_lookup / _median_wall(warm, "lookup"), "rows/s"),
            "write_rows_per_s": (len(self.strings) / _median_wall(warm, "write"), "rows/s"),
        }

    def after(self) -> list[str]:
        """Read every lookup key back: the writes must have left each
        found key at its generated value and created no missing key."""
        from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

        keys = [gen.lookup_key(i) for i in range(self.n_lookup)]
        with RedisClient(self.server.host, self.server.port) as c:
            got = []
            for i in range(0, len(keys), DEFAULT_SCAN_COUNT):
                got += c.mget(keys[i : i + DEFAULT_SCAN_COUNT])
        bad = sum(1 for k, v in zip(keys, got) if v != self.strings.get(k))
        return [f"read-back: {bad} key(s) differ from the written values"] if bad else []

    def _direct_inputs(self):
        import pandas as pd
        from pyspark.sql import Row

        if not hasattr(self, "_inputs"):
            batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            keys = [gen.lookup_key(i) for i in range(self.n_lookup)]
            bounds = [self.n_lookup * p // self.parts for p in range(self.parts + 1)]
            key_parts = [
                [pd.Series(keys[i : min(i + batch, hi)]) for i in range(lo, hi, batch)]
                for lo, hi in zip(bounds, bounds[1:])
            ]
            rows = [Row(key=k, value=v) for k, v in self.strings.items()]
            half = len(rows) // 2
            self._inputs = key_parts, [rows[:half], rows[half:]]
        return self._inputs

    def direct(self, span) -> None:
        from duckdb_redis_olap_scanner_spark.functions.redis_fns import make_redis_get
        from duckdb_redis_olap_scanner_spark.sources.redis_source import (
            RedisHashReader, RedisKVWriter,
        )

        key_parts, row_parts = self._direct_inputs()
        reader = RedisHashReader(self._options(pattern="h:*"))
        with span("sources.read"):
            batches = [b for p in reader.partitions() for b in reader.read(p)]
        redis_get = make_redis_get(self.server.host, self.server.port).func
        with span("functions.redis_get"):
            values = [v for part in key_parts for s in redis_get(iter(part)) for v in s]
        writer = RedisKVWriter(self._options())
        with span("sources.write"):
            for part in row_parts:
                writer.write(iter(part))
        self.direct_counts = {
            "sources.batches": len(batches),
            "sources.rows": sum(b.num_rows for b in batches),
            "functions.null_keys": sum(v is None for v in values),
        }
        want = [self.strings.get(gen.lookup_key(i)) for i in range(self.n_lookup)]
        got_hash = {
            k: dict(m) for b in batches
            for k, m in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
        }
        if values != want or got_hash != self.hashes:
            raise RuntimeError("enrich_write direct iteration returned wrong values")

    def replay(self, budget_s: float) -> dict[str, float]:
        from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

        keys = sorted(self.hashes)[:DEFAULT_SCAN_COUNT]
        with RedisClient(self.server.host, self.server.port, protocol=3) as live:
            want, data = tracing.record(live, lambda c: c.hgetall_pipelined(keys))
        times = _replay(
            budget_s,
            lambda: tracing.canned_client(data, protocol=3).hgetall_pipelined(keys),
            want,
        )
        t = statistics.median(times)
        elems = sum(1 + 2 * len(m) for m in want)  # map header, fields, values
        return {"transport.replay_hgetall_page_s": t, "transport.replay_elems_per_s": elems / t}


WORKLOADS = {w.name: w for w in (KvScan, EnrichWrite)}
