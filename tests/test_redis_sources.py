"""Golden-parity tests with the reference's own test file
(/root/reference/test/sql/scan.test) plus the documented-but-
unimplemented surface (redis_kv, redis_hgetall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_scan_count_golden(engine):
    # scan.test:19-22 — SELECT COUNT(*) FROM redis_scan('testkey:*') == 10
    assert engine.redis_scan("testkey:*").count() == 10


def test_scan_sorted_limit_golden(engine):
    # scan.test:24-29 — first 3 keys in sorted order
    rows = (
        engine.redis_scan("testkey:*")
        .orderBy("key_name")
        .limit(3)
        .collect()
    )
    assert [r.key_name for r in rows] == [
        "testkey:0001",
        "testkey:0002",
        "testkey:0003",
    ]


def test_scan_match_filters_serverside(engine):
    assert engine.redis_scan("other:*").count() == 2
    assert engine.redis_scan("nomatch:*").count() == 0


def test_scan_small_count_multi_roundtrip(engine):
    # COUNT 3 forces multiple SCAN cursor round trips; results identical.
    df = engine.redis_scan("testkey:*", count=3)
    assert df.count() == 10


def test_scan_sharded_parallel(engine):
    # Parallel scan via disjoint shard globs — two InputPartitions.
    df = engine.redis_scan(
        shard_patterns="testkey:*;other:*",
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 12


def test_kv_reader(engine):
    rows = engine.redis_kv("testkey:*").orderBy("key").collect()
    assert len(rows) == 10
    assert rows[0].key == "testkey:0001" and rows[0].value == "value:0001"


def test_hash_reader_maptype(engine):
    df = engine.redis_hash("user:*")
    rows = {r.key: r.value for r in df.collect()}
    assert rows["user:1001"] == {"name": "ada", "age": "36"}
    assert rows["user:1002"] == {"name": "grace", "city": "nyc"}
    # Map access via value['field'] — the STRUCT-access analogue.
    got = (
        df.select("key", F.col("value")["name"].alias("name"))
        .orderBy("key")
        .collect()
    )
    assert [r.name for r in got] == ["ada", "grace"]


def test_sql_over_scan(engine, spark):
    engine.redis_scan("testkey:*").createOrReplaceTempView("rscan")
    n = spark.sql("SELECT CAST(COUNT(*) AS INT) AS n FROM rscan").collect()[0].n
    assert n == 10


def test_connect_errors(engine):
    import pytest

    with pytest.raises(ValueError):
        engine.connect("no-port-here")
    with pytest.raises(ValueError):
        engine.connect(None)
    with pytest.raises(Exception):
        engine.connect("127.0.0.1:1")  # nothing listening


class TestFilterPushdown:
    def test_pushfilters_translates_like_prefix(self):
        from duckdb_redis_olap_scanner_spark.sources.redis_source import (
            RedisScanReader,
        )
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            StringStartsWith,
        )

        r = RedisScanReader({"pattern": "*"})
        remaining = list(
            r.pushFilters(
                [
                    StringStartsWith(("key_name",), "testkey:"),
                    GreaterThan(("key_name",), "a"),
                ]
            )
        )
        assert r.options["pattern"] == "testkey:*"
        # ALL filters return to Spark: the MATCH pattern is a superset
        # optimization, re-verified engine-side (sound against server
        # glob-semantics differences).
        assert len(remaining) == 2

    def test_pushfilters_escapes_glob_metachars(self):
        from duckdb_redis_olap_scanner_spark.sources.redis_source import (
            RedisScanReader,
        )
        from pyspark.sql.datasource import EqualTo

        r = RedisScanReader({"pattern": "*"})
        r.pushFilters([EqualTo(("key_name",), "weird*key?")])
        assert r.options["pattern"] == "weird[*]key[?]"

    def test_pushfilters_declines_unescapable_literals(self):
        # ']' and '\' can't be portably escaped in a Redis glob (real
        # stringmatchlen reads '[]]' as an empty class) — such literals
        # must not be pushed at all; Spark filters them engine-side.
        from duckdb_redis_olap_scanner_spark.sources.redis_source import (
            RedisScanReader,
        )
        from pyspark.sql.datasource import StringStartsWith

        for bad in ("a]b", "a\\b"):
            r = RedisScanReader({"pattern": "*"})
            remaining = list(r.pushFilters([StringStartsWith(("key_name",), bad)]))
            assert r.options["pattern"] == "*"
            assert len(remaining) == 1

    def test_pushfilters_keeps_user_pattern(self):
        from duckdb_redis_olap_scanner_spark.sources.redis_source import (
            RedisScanReader,
        )
        from pyspark.sql.datasource import StringStartsWith

        r = RedisScanReader({"pattern": "user:*"})
        remaining = list(r.pushFilters([StringStartsWith(("key_name",), "t")]))
        assert r.options["pattern"] == "user:*"
        assert len(remaining) == 1  # nothing consumed

    def test_like_pushdown_end_to_end(self, engine):
        # LIKE 'testkey:%' becomes the SCAN MATCH glob server-side; the
        # result must equal the explicit-pattern scan (10 golden keys),
        # with non-matching 'other:*' keys excluded at the source.
        df = engine.redis_scan("*").filter(F.col("key_name").like("testkey:%"))
        keys = sorted(r.key_name for r in df.collect())
        assert keys == [f"testkey:{i:04d}" for i in range(1, 11)]


def test_kv_writer_roundtrip(spark, engine, redis_server):
    """df.write.format('redis_kv') pipelines SETs; reading the pattern
    back returns exactly the written pairs."""
    rows = [(f"wtest:{i:03d}", f"v{i}") for i in range(250)]
    df = spark.createDataFrame(rows, "key string, value string")
    (
        df.write.format("redis_kv")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .option("batch_size", 64)
        .mode("append")
        .save()
    )
    back = engine.redis_kv("wtest:*").collect()
    assert sorted((r.key, r.value) for r in back) == sorted(rows)


def test_hash_writer_roundtrip(spark, engine, redis_server):
    rows = [
        ("whash:001", {"name": "a", "size": "1"}),
        ("whash:002", {"name": "b"}),
    ]
    df = spark.createDataFrame(rows, "key string, value map<string,string>")
    (
        df.write.format("redis_hash")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .mode("append")
        .save()
    )
    back = {r.key: dict(r.value) for r in engine.redis_hash("whash:*").collect()}
    assert back == dict(rows)


def test_zset_source_reads_score_order(spark, engine):
    """ZRANGE order is ascending (score, member) with ranks attached —
    the golden fixture's distinct scores and a tied-score pair both
    land deterministically."""
    rows = engine.redis_zset("rank:global").collect()
    assert [r.member for r in rows] == [
        f"item:{i:04d}" for i in range(1, 11)
    ]
    assert [r.score for r in rows] == [float(i * 10) for i in range(1, 11)]
    assert [r.rank for r in rows] == list(range(10))


def test_zset_writer_roundtrip(spark, engine, redis_server):
    """df.write.format('redis_zset') pipelines ZADDs; reading back
    returns the members in (score, member) order — including a score
    tie broken by member, and a rewritten member keeping only its
    last score (set semantics, safe under partition parallelism)."""
    rows = [("zb", 2.0), ("za", 1.0), ("zc", 1.0), ("zb", 5.0)]
    df = spark.createDataFrame(rows, "member string, score double")
    (
        df.coalesce(1)  # deterministic last-writer for the zb rewrite
        .write.format("redis_zset")
        .option("host", redis_server.host)
        .option("port", redis_server.port)
        .option("key", "wzset:test")
        .mode("append")
        .save()
    )
    back = engine.redis_zset("wzset:test").collect()
    assert [(r.member, r.score) for r in back] == [
        ("za", 1.0),
        ("zc", 1.0),
        ("zb", 5.0),
    ]


def test_list_source_preserves_insertion_order(spark, engine):
    rows = engine.redis_list("queue:jobs").collect()
    assert [(r.pos, r.element) for r in rows] == [
        (i - 1, f"job:{i:04d}") for i in range(1, 9)
    ]


def test_scan_sees_zset_and_list_keys(spark, engine):
    keys = {r.key_name for r in engine.redis_scan("*").collect()}
    assert "rank:global" in keys and "queue:jobs" in keys


def test_zset_reader_pages_large_container(redis_server):
    """A sorted set larger than one page streams as MULTIPLE
    RecordBatches (bounded worker memory — no ZRANGE 0 -1 buffering
    the whole container), with ranks continuous across slices and
    contents identical to a single-shot read."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisZSetReader,
        _SingleKeyPartition,
    )
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        args: list[str] = []
        for i in range(25):
            args += [str(float(i)), f"pm:{i:03d}"]
        c.command("ZADD", "pzset:test", *args)
    reader = RedisZSetReader(
        {"host": redis_server.host, "port": str(redis_server.port),
         "key": "pzset:test", "page_size": "10"}
    )
    part = _SingleKeyPartition(redis_server.host, redis_server.port, "pzset:test")
    batches = list(reader.read(part))
    assert [b.num_rows for b in batches] == [10, 10, 5]
    members = [m for b in batches for m in b.column("member").to_pylist()]
    ranks = [r for b in batches for r in b.column("rank").to_pylist()]
    assert members == [f"pm:{i:03d}" for i in range(25)]
    assert ranks == list(range(25))


def test_list_reader_pages_large_container(redis_server):
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisListReader,
        _SingleKeyPartition,
    )
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        c.command("RPUSH", "plist:test", *[f"el:{i:03d}" for i in range(23)])
    reader = RedisListReader(
        {"host": redis_server.host, "port": str(redis_server.port),
         "key": "plist:test", "page_size": "10"}
    )
    part = _SingleKeyPartition(redis_server.host, redis_server.port, "plist:test")
    batches = list(reader.read(part))
    assert [b.num_rows for b in batches] == [10, 10, 3]
    elems = [e for b in batches for e in b.column("element").to_pylist()]
    pos = [p for b in batches for p in b.column("pos").to_pylist()]
    assert elems == [f"el:{i:03d}" for i in range(23)]
    assert pos == list(range(23))


# ---------------------------------------------------------------------------
# Cluster-slot sharding (SURVEY §4.1's production scale path)
# ---------------------------------------------------------------------------


def test_key_slot_crc16_and_hashtags():
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _crc16_xmodem,
        key_slot,
    )

    # CRC16-CCITT/XMODEM reference vector.
    assert _crc16_xmodem(b"123456789") == 0x31C3
    assert key_slot("123456789") == 0x31C3 % 16384
    # Hashtag rule: only the first non-empty {tag} is hashed.
    assert key_slot("{user1000}.following") == key_slot("{user1000}.followers")
    assert key_slot("{user1000}.x") == key_slot("user1000")
    # Empty hashtag hashes the whole key.
    assert key_slot("{}x") != key_slot("")
    assert 0 <= key_slot("") < 16384


def test_cluster_slots_scan_covers_nodes_disjointly(spark):
    """Three fake nodes impersonating a cluster topology: keys live on
    exactly one node by slot ownership; the cluster_slots scan must
    return every key exactly once with one partition per master."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import key_slot
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    nodes = [FakeRedisServer().start() for _ in range(3)]
    try:
        ranges = [(0, 5460), (5461, 10922), (10923, 16383)]
        keys = [f"ck:{i:04d}" for i in range(60)]
        owned = [0, 0, 0]
        for k in keys:
            s = key_slot(k)
            for idx, (lo, hi) in enumerate(ranges):
                if lo <= s <= hi:
                    nodes[idx].seed_strings({k: f"v:{k}"})
                    owned[idx] += 1
        assert all(owned), owned  # every node holds some keys
        topo = [
            (lo, hi, n.host, n.port)
            for (lo, hi), n in zip(ranges, nodes)
        ]
        nodes[0].set_cluster_slots(topo)
        df = (
            spark.read.format("redis_scan")
            .option("host", nodes[0].host)
            .option("port", str(nodes[0].port))
            .option("pattern", "ck:*")
            .option("cluster_slots", "true")
            .load()
        )
        assert df.rdd.getNumPartitions() == 3
        got = sorted(r.key_name for r in df.collect())
        assert got == sorted(keys)  # complete AND duplicate-free

        # redis_kv rides the same topology (values come from the
        # owning node's MGET).
        kv = (
            spark.read.format("redis_kv")
            .option("host", nodes[0].host)
            .option("port", str(nodes[0].port))
            .option("pattern", "ck:*")
            .option("cluster_slots", "true")
            .load()
        )
        rows = {r.key: r.value for r in kv.collect()}
        assert rows == {k: f"v:{k}" for k in keys}
    finally:
        for n in nodes:
            n.stop()


def test_cluster_slots_dedupes_multirange_masters():
    """A master owning several slot ranges appears once in the shard
    list — scanning it twice would duplicate every key it holds."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _cluster_nodes,
        _shards,
    )
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.set_cluster_slots(
            [
                (0, 100, a.host, a.port),
                (101, 200, b.host, b.port),
                (201, 16383, a.host, a.port),  # a again: second range
            ]
        )
        masters = _cluster_nodes(a.host, a.port)
        # one row per master, with ALL its owned ranges aggregated
        assert masters == [
            (a.host, a.port, ((0, 100), (201, 16383))),
            (b.host, b.port, ((101, 200),)),
        ]
        shards = _shards(
            {
                "host": a.host,
                "port": str(a.port),
                "cluster_slots": "true",
                "shard_patterns": "x:*;y:*",
            }
        )
        # nodes x patterns composition
        assert len(shards) == 4
        assert {(s.host, s.port, s.pattern) for s in shards} == {
            (a.host, a.port, "x:*"),
            (a.host, a.port, "y:*"),
            (b.host, b.port, "x:*"),
            (b.host, b.port, "y:*"),
        }


def test_cluster_slots_on_standalone_raises():
    import pytest

    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        _cluster_nodes,
    )
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    with FakeRedisServer() as srv, pytest.raises(Exception):
        _cluster_nodes(srv.host, srv.port)


def test_writers_reject_null_keys_and_values(spark, redis_server):
    """Redis has no NULL string: a NULL column reaching a writer used
    to be stored as the literal string "None" (r14 bug-hunt — a
    redis_kv roundtrip of a NULL value corrupted exactly this way).
    Every writer now fails the task loudly, and encode_command is the
    transport-level backstop."""
    import pytest as _pytest

    from duckdb_redis_olap_scanner_spark.transport.resp import encode_command

    with _pytest.raises(TypeError, match="None"):
        encode_command("SET", "k", None)

    def _write(df, fmt, **opts):
        w = (df.write.format(fmt)
             .option("host", redis_server.host)
             .option("port", redis_server.port))
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode("append").save()

    kv_null_val = spark.createDataFrame(
        [("nkv:1", "ok"), ("nkv:2", None)], "key string, value string")
    with _pytest.raises(Exception, match="NULL value"):
        _write(kv_null_val, "redis_kv")
    kv_null_key = spark.createDataFrame(
        [(None, "v")], "key string, value string")
    with _pytest.raises(Exception, match="NULL key"):
        _write(kv_null_key, "redis_kv")

    hash_null = spark.createDataFrame(
        [("nh:1", {"f": None})], "key string, value map<string,string>")
    with _pytest.raises(Exception, match="NULL value for field"):
        _write(hash_null, "redis_hash")

    zset_null = spark.createDataFrame(
        [(None, 1.0)], "member string, score double")
    with _pytest.raises(Exception, match="NULL member"):
        _write(zset_null, "redis_zset", key="nz:1")

    # and the corrupted sentinel never landed
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with RedisClient(redis_server.host, redis_server.port) as c:
        assert c.get("nkv:2") is None


def test_scan_owned_slots_binary_keys_on_raw_bytes():
    """Cluster slot filtering must hash the RAW key bytes: a lossy
    UTF-8 decode of a binary key re-encodes the replacement chars and
    lands on a different slot than the server used, silently dropping
    the row (review r14)."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisShard,
        _scan_owned,
        key_slot,
    )

    raw_key = b"\x80abc"
    s_raw = key_slot(raw_key)
    s_decoded = key_slot(raw_key.decode("utf-8", "replace"))
    assert s_raw != s_decoded  # the decode really moves the slot

    class StubClient:
        def scan_iter(self, match="*", count=0, raw=False):
            assert raw, "cluster path must request raw key bytes"
            yield [raw_key, b"other"]

    part = RedisShard("h", 1, "*", 10, slot_ranges=((s_raw, s_raw),))
    got = [k for batch in _scan_owned(StubClient(), part) for k in batch]
    # the binary key survives (owner by raw-bytes slot), decoded for
    # the string schema; 'other' is filtered unless it collides
    assert raw_key.decode("utf-8", "replace") in got
    if key_slot(b"other") != s_raw:
        assert got == [raw_key.decode("utf-8", "replace")]


def test_hash_writer_rejects_null_key_even_with_empty_map(spark, redis_server):
    """A NULL key with an empty/NULL map is the same upstream
    corruption as a NULL key with fields — it must fail loudly, not
    be skipped (review r14)."""
    import pytest as _pytest

    for payload in ({}, None):
        df = spark.createDataFrame(
            [(None, payload)], "key string, value map<string,string>")
        with _pytest.raises(Exception, match="NULL key"):
            (df.write.format("redis_hash")
             .option("host", redis_server.host)
             .option("port", redis_server.port)
             .mode("append").save())


# ---------------------------------------------------------------------------
# Wire traffic per Redis entry point (no Spark)
# ---------------------------------------------------------------------------


def _drive_entry_point(name, srv, monkeypatch):
    """Run one Redis entry point directly against ``srv``."""
    import pandas as pd
    from pyspark.sql import Row

    from duckdb_redis_olap_scanner_spark.functions import redis_fns
    from duckdb_redis_olap_scanner_spark.sources import redis_source as rs
    from duckdb_redis_olap_scanner_spark.sources import redis_stream_source as st

    opts = {"host": srv.host, "port": str(srv.port)}

    def read(reader):
        return [b for p in reader.partitions() for b in reader.read(p)]

    def udf(make):
        # 4-key chunks: the two batches below span 3 chunks, one all-NULL
        monkeypatch.setattr(redis_fns, "MGET_CHUNK", 4)
        batches = [pd.Series(["s:00", None, "s:01", "nope", "h:00", "s:02"]),
                   pd.Series([None, None])]
        return [v for s in make(srv.host, srv.port).func(iter(batches)) for v in s]

    if name == "scan":
        out = read(rs.RedisScanReader({**opts, "pattern": "s:*", "count": "4"}))
        assert sum(b.num_rows for b in out) == 10
    elif name == "kv":
        out = read(rs.RedisKVReader({**opts, "pattern": "s:*", "count": "4"}))
        assert sum(b.num_rows for b in out) == 10
    elif name == "hash":
        out = read(rs.RedisHashReader({**opts, "pattern": "h:*", "count": "4"}))
        assert sum(b.num_rows for b in out) == 6
    elif name == "zset":
        out = read(rs.RedisZSetReader({**opts, "key": "z", "page_size": "3"}))
        assert [b.num_rows for b in out] == [3, 3, 1]
    elif name == "list":
        out = read(rs.RedisListReader({**opts, "key": "l", "page_size": "3"}))
        assert [b.num_rows for b in out] == [3, 3, 1]
    elif name == "redis_get":
        assert udf(redis_fns.make_redis_get)[:4] == ["v0", None, "v1", None]
    elif name == "redis_ttl":
        assert udf(redis_fns.make_redis_ttl)[:4] == [30, pd.NA, -1, -2]
    elif name == "redis_hgetall":
        assert udf(redis_fns.make_redis_hgetall)[4] == {"a": "0", "b": "x"}
    elif name == "kv_writer":
        rs.RedisKVWriter({**opts, "batch_size": "4"}).write(
            iter([Row(key=f"w:{i}", value=str(i)) for i in range(10)]))
    elif name == "hash_writer":
        rows = [Row(key=f"wh:{i}", value={"f": str(i)}) for i in range(6)]
        rs.RedisHashWriter({**opts, "batch_size": "4"}).write(
            iter(rows[:3] + [Row(key="wh:empty", value={})] + rows[3:]))
    elif name == "zset_writer":
        rs.RedisZSetWriter({**opts, "key": "wz", "batch_size": "4"}).write(
            iter([Row(member=f"m{i}", score=float(i)) for i in range(7)]))
    elif name == "stream_writer":
        st.RedisStreamWriter({**opts, "key": "ws", "batch_size": "4"}).write(
            iter([Row(a=str(i), b=None) for i in range(5)]))
    elif name == "stream_reader":
        reader = st.RedisStreamReader({**opts, "key": "x"})
        end = reader.latestOffset()
        (part,) = reader.partitions({"last_id": "0-1"}, end)
        assert [sid for sid, _ in reader.read(part)] == ["0-2", "0-3", "0-4"]


@pytest.mark.parametrize("name,want_round_trips,want_commands", [
    ("scan", 6, {"PING": 1, "SCAN": 5}),
    ("kv", 9, {"PING": 1, "SCAN": 5, "MGET": 3}),
    ("hash", 9, {"HELLO": 1, "PING": 1, "SCAN": 5, "HGETALL": 6}),
    ("zset", 6, {"HELLO": 1, "PING": 1, "ZCARD": 1, "ZRANGE": 3}),
    ("list", 6, {"HELLO": 1, "PING": 1, "LLEN": 1, "LRANGE": 3}),
    ("redis_get", 3, {"PING": 1, "MGET": 2}),
    ("redis_ttl", 3, {"PING": 1, "TTL": 5}),
    ("redis_hgetall", 3, {"PING": 1, "HGETALL": 5}),
    ("kv_writer", 4, {"PING": 1, "SET": 10}),
    ("hash_writer", 3, {"PING": 1, "HSET": 6}),
    ("zset_writer", 3, {"PING": 1, "ZADD": 7}),
    ("stream_writer", 3, {"PING": 1, "XADD": 5}),
    ("stream_reader", 6, {"PING": 2, "XINFO": 3, "XRANGE": 1}),
])
def test_entry_point_wire_round_trips(monkeypatch, name, want_round_trips,
                                      want_commands):
    """Exact per-command counts (server side, counted the way the
    benchmark's server counts them) and client round trips for every
    Redis entry point on a small keyspace: pages of ``count`` /
    ``page_size`` / ``batch_size`` / ``MGET_CHUNK``, one pipeline per
    page, nothing sent for an all-NULL chunk or an empty hash map."""
    from collections import Counter

    from duckdb_redis_olap_scanner_spark import testing
    from duckdb_redis_olap_scanner_spark.transport.resp import RedisClient

    with testing.FakeRedisServer() as srv:
        srv.seed_strings({f"s:{i:02d}": f"v{i}" for i in range(10)})
        srv.seed_hashes({f"h:{i:02d}": {"a": str(i), "b": "x"} for i in range(6)})
        srv.seed_zset("z", {f"m{i}": float(i) for i in range(7)})
        srv.seed_list("l", [f"e{i}" for i in range(7)])
        srv.seed_ttls({"s:00": 30})
        with RedisClient(srv.host, srv.port) as c:
            for i in range(4):
                c.command("XADD", "x", "*", "f", str(i))

        commands, round_trips = Counter(), Counter()
        dispatch = testing._Handler._dispatch
        command, pipeline = RedisClient.command, RedisClient.pipeline

        def counting_dispatch(self, store, cmd):
            commands[cmd[0].upper()] += 1
            return dispatch(self, store, cmd)

        def counting_command(self, *args):
            round_trips["n"] += 1
            return command(self, *args)

        def counting_pipeline(self, cmds):
            round_trips["n"] += bool(cmds)
            return pipeline(self, cmds)

        monkeypatch.setattr(testing._Handler, "_dispatch", counting_dispatch)
        monkeypatch.setattr(RedisClient, "command", counting_command)
        monkeypatch.setattr(RedisClient, "pipeline", counting_pipeline)
        _drive_entry_point(name, srv, monkeypatch)
        assert dict(commands) == want_commands
        assert round_trips["n"] == want_round_trips
