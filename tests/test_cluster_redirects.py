"""Redis Cluster MOVED/ASK redirect handling (VERDICT r12 carried
item #6) and the RESP3 reply-shape switch for the zset/list sources.

A long SCAN+fetch read that overlaps a live reshard sees ``-MOVED``
(slot permanently elsewhere) or ``-ASK`` (slot mid-migration, target
requires ASKING) on its GET/MGET enrichment. The client follows both
per the cluster spec; the kv source then survives a reshard mid-scan.
The reference engine has no cluster support at all (one global socket,
``redduck_extension.cpp:44-52``) — this is beyond-reference polish.

ZRANGE ... WITHSCORES is the second consumed reply whose shape changed
under RESP3 (flat member/score bulk strings → [member, double] pairs);
the zset source now negotiates RESP3 by default and parses both.
"""

from __future__ import annotations

import pytest

from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer
from duckdb_redis_olap_scanner_spark.transport.resp import (
    RedisClient,
    RespError,
    RespProtocolError,
    _redirect_of,
)


def test_redirect_of_parses_moved_and_ask():
    assert _redirect_of(RespError("MOVED 3999 10.0.0.7:6381")) == (
        "MOVED", "10.0.0.7", 6381,
    )
    assert _redirect_of(RespError("ASK 3999 10.0.0.7:6381")) == (
        "ASK", "10.0.0.7", 6381,
    )
    assert _redirect_of(RespError("ERR unknown command")) is None
    assert _redirect_of(RespError("MOVED gibberish")) is None
    # IPv6-ish host:port (rpartition on the last colon)
    assert _redirect_of(RespError("MOVED 1 ::1:6400")) == ("MOVED", "::1", 6400)


def test_get_follows_moved():
    with FakeRedisServer() as a, FakeRedisServer() as b:
        b.seed_strings({"mk:1": "on-b"})
        a.store.moved["mk:1"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            assert c.get("mk:1") == "on-b"
            # the redirect target connection is pooled for reuse
            assert (b.host, b.port) in c._redirect_pool
            assert c.get("mk:1") == "on-b"
            assert len(c._redirect_pool) == 1


def test_get_follows_ask_with_asking():
    """ASK is one-request-only: the target serves the key ONLY on a
    connection that sent ASKING immediately before — pinned by the
    fake's importing gate, which bounces non-ASKING access."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        b.seed_strings({"ak:1": "migrating"})
        b.store.importing["ak:1"] = (a.host, a.port)
        a.store.ask["ak:1"] = (b.host, b.port)
        # raw, non-ASKING access to the importing node bounces back
        # to the migration source, as on a real importing node
        with RedisClient(b.host, b.port) as direct:
            with pytest.raises(RespError, match="MOVED"):
                direct.command("GET", "ak:1")
            # ...and the redirect-following path resolves the full
            # b -> MOVED -> a -> ASK -> ASKING+GET on b round trip
            assert direct.command_redirected("GET", "ak:1") == b"migrating"
        with RedisClient(a.host, a.port) as c:
            assert c.get("ak:1") == "migrating"


def test_ask_does_not_stick_on_target_connection():
    """ASKING authorizes exactly one command: a second fetch through
    the same pooled target connection must re-send ASKING (the fake
    resets the flag after every command)."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        b.seed_strings({"ak:1": "v1", "ak:2": "v2"})
        b.store.importing["ak:1"] = (a.host, a.port)
        b.store.importing["ak:2"] = (a.host, a.port)
        a.store.ask["ak:1"] = (b.host, b.port)
        a.store.ask["ak:2"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            assert c.get("ak:1") == "v1"
            assert c.get("ak:2") == "v2"
            assert len(c._redirect_pool) == 1


def test_mget_refetches_moved_keys_per_key():
    """A scan-page MGET where SOME keys resharded away mid-scan: the
    whole MGET errors (as on a real cluster), and the client recovers
    per key — locals from the pipelined GETs, movers via redirects —
    preserving order and None for genuinely absent keys."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.seed_strings({f"pg:{i}": f"a{i}" for i in range(6)})
        for i in (1, 4):
            b.seed_strings({f"pg:{i}": f"b{i}"})
            a.store.moved[f"pg:{i}"] = (b.host, b.port)
        keys = [f"pg:{i}" for i in range(6)] + ["pg:absent"]
        with RedisClient(a.host, a.port) as c:
            assert c.mget(keys) == [
                "a0", "b1", "a2", "a3", "b4", "a5", None,
            ]


def test_moved_chain_is_followed_and_bounded():
    with FakeRedisServer() as a, FakeRedisServer() as b, \
            FakeRedisServer() as c_srv:
        # two-hop chain a -> b -> c resolves
        c_srv.seed_strings({"ch:1": "final"})
        a.store.moved["ch:1"] = (b.host, b.port)
        b.store.moved["ch:1"] = (c_srv.host, c_srv.port)
        with RedisClient(a.host, a.port) as c:
            assert c.get("ch:1") == "final"
        # a <-> b ping-pong trips the bound instead of looping
        a.store.moved["lp:1"] = (b.host, b.port)
        b.store.moved["lp:1"] = (a.host, a.port)
        with RedisClient(a.host, a.port) as c, pytest.raises(
            RespProtocolError, match="redirect loop"
        ):
            c.command_redirected("GET", "lp:1")


def test_non_redirect_errors_still_raise():
    with FakeRedisServer() as a:
        with RedisClient(a.host, a.port) as c:
            with pytest.raises(RespError):
                c.command_redirected("NOSUCHCOMMAND")


def test_kv_source_survives_reshard_mid_scan(spark):
    """End to end: a redis_kv read whose SCAN snapshot still lists
    keys that a concurrent reshard moved to another node — the MGET
    enrichment hits -MOVED and the read completes with every value
    from its current owner."""
    from duckdb_redis_olap_scanner_spark.engine import register_datasources

    register_datasources(spark)
    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.seed_strings({f"rs:{i:03d}": f"a:{i}" for i in range(40)})
        # 15 keys migrate mid-life: still in a's scan snapshot (and
        # keyspace), but key commands on a now redirect to b.
        for i in range(0, 40, 3):
            a.store.moved[f"rs:{i:03d}"] = (b.host, b.port)
            b.seed_strings({f"rs:{i:03d}": f"b:{i}"})
        df = (
            spark.read.format("redis_kv")
            .option("host", a.host)
            .option("port", str(a.port))
            .option("pattern", "rs:*")
            .load()
        )
        rows = {r.key: r.value for r in df.collect()}
        assert rows == {
            f"rs:{i:03d}": (f"b:{i}" if i % 3 == 0 else f"a:{i}")
            for i in range(40)
        }


# ---------------------------------------------------------------------------
# RESP3 reply shapes for the zset/list sources
# ---------------------------------------------------------------------------


def _seed_zset(srv, key, n=25):
    with RedisClient(srv.host, srv.port) as c:
        args = []
        for i in range(n):
            args += [str(i + 0.5), f"zm:{i:03d}"]
        c.command("ZADD", key, *args)


def test_zrange_withscores_shape_switches_with_protocol():
    """The fake mirrors real Redis: RESP2 replies the flat
    member/score bulk-string alternation, RESP3 (after HELLO 3)
    replies [member, double] pairs."""
    with FakeRedisServer() as srv:
        _seed_zset(srv, "z3:shape", n=3)
        with RedisClient(srv.host, srv.port, protocol=2) as c2:
            flat = c2.command("ZRANGE", "z3:shape", "0", "-1", "WITHSCORES")
            assert [type(v) for v in flat] == [bytes] * 6
        with RedisClient(srv.host, srv.port, protocol=3) as c3:
            assert c3.negotiated_protocol == 3
            pairs = c3.command("ZRANGE", "z3:shape", "0", "-1", "WITHSCORES")
            assert len(pairs) == 3
            assert all(
                isinstance(p, list) and len(p) == 2
                and isinstance(p[0], bytes) and isinstance(p[1], float)
                for p in pairs
            )


@pytest.mark.parametrize("protocol", [2, 3])
def test_zset_reader_identical_under_both_protocols(protocol):
    """The paged zset read (including the multi-batch path) returns
    identical rows whether the server speaks RESP2 flat pairs or
    RESP3 [member, double] pairs."""
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisZSetReader,
        _SingleKeyPartition,
    )

    with FakeRedisServer() as srv:
        _seed_zset(srv, "z3:page", n=25)
        reader = RedisZSetReader(
            {"host": srv.host, "port": str(srv.port), "key": "z3:page",
             "page_size": "10", "protocol": str(protocol)}
        )
        part = _SingleKeyPartition(srv.host, srv.port, "z3:page")
        batches = list(reader.read(part))
        assert [b.num_rows for b in batches] == [10, 10, 5]
        members = [m for b in batches for m in b.column("member").to_pylist()]
        scores = [s for b in batches for s in b.column("score").to_pylist()]
        ranks = [r for b in batches for r in b.column("rank").to_pylist()]
        assert members == [f"zm:{i:03d}" for i in range(25)]
        assert scores == [i + 0.5 for i in range(25)]
        assert ranks == list(range(25))


@pytest.mark.parametrize("protocol", [2, 3])
def test_list_reader_identical_under_both_protocols(protocol):
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisListReader,
        _SingleKeyPartition,
    )

    with FakeRedisServer() as srv:
        with RedisClient(srv.host, srv.port) as c:
            c.command("RPUSH", "l3:page", *[f"el:{i:03d}" for i in range(25)])
        reader = RedisListReader(
            {"host": srv.host, "port": str(srv.port), "key": "l3:page",
             "page_size": "10", "protocol": str(protocol)}
        )
        part = _SingleKeyPartition(srv.host, srv.port, "l3:page")
        batches = list(reader.read(part))
        assert [b.num_rows for b in batches] == [10, 10, 5]
        elems = [e for b in batches for e in b.column("element").to_pylist()]
        assert elems == [f"el:{i:03d}" for i in range(25)]


def test_redis_get_udf_survives_reshard(spark):
    """The redis_get scalar UDF (per-partition MGET batches) over a
    scan whose keys partially resharded away mid-read: the Arrow
    workers' mget recovers the moved keys from the new owner."""
    from duckdb_redis_olap_scanner_spark.engine import Engine

    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.seed_strings({f"ug:{i:03d}": f"a:{i}" for i in range(20)})
        for i in range(0, 20, 4):
            a.store.moved[f"ug:{i:03d}"] = (b.host, b.port)
            b.seed_strings({f"ug:{i:03d}": f"b:{i}"})
        eng = Engine(spark)
        eng.connect(f"{a.host}:{a.port}")
        scan = eng.redis_scan("ug:*")
        got = {
            r.key_name: r.value
            for r in scan.select(
                scan.key_name,
                eng.redis_get_udf()(scan.key_name).alias("value"),
            ).collect()
        }
        assert got == {
            f"ug:{i:03d}": (f"b:{i}" if i % 4 == 0 else f"a:{i}")
            for i in range(20)
        }


def test_pipeline_checked_replays_redirects_and_raises_otherwise():
    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.store.moved["wm:1"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            replies = c.pipeline_checked(
                [("SET", "wm:0", "v0"), ("SET", "wm:1", "v1")]
            )
            assert replies == ["OK", "OK"]
            with pytest.raises(RespError):
                c.pipeline_checked([("NOSUCHCOMMAND",)])
        assert a.store.strings.get("wm:0") == "v0"
        # the redirected SET landed on the new owner, not dropped
        assert b.store.strings.get("wm:1") == "v1"
        assert "wm:1" not in a.store.strings


def test_kv_writer_survives_reshard(spark):
    """A batch write racing a reshard: SETs for migrated keys get
    -MOVED inside the pipelined batch; the writer must replay them on
    the new owner instead of silently dropping the error replies
    (at-least-once sink semantics)."""
    from duckdb_redis_olap_scanner_spark.engine import register_datasources

    register_datasources(spark)
    with FakeRedisServer() as a, FakeRedisServer() as b:
        rows = [(f"wr:{i:03d}", f"v{i}") for i in range(30)]
        for i in range(0, 30, 5):
            a.store.moved[f"wr:{i:03d}"] = (b.host, b.port)
        df = spark.createDataFrame(rows, "key string, value string")
        (
            df.write.format("redis_kv")
            .option("host", a.host)
            .option("port", str(a.port))
            .option("batch_size", 8)
            .mode("append")
            .save()
        )
        for i in range(30):
            k, v = f"wr:{i:03d}", f"v{i}"
            owner = b if i % 5 == 0 else a
            other = a if i % 5 == 0 else b
            assert owner.store.strings.get(k) == v, (k, "missing on owner")
            assert k not in other.store.strings, (k, "leaked to other node")


@pytest.mark.parametrize("kind", ["hash", "zset", "stream"])
def test_writers_replay_moved_replies_in_batches(monkeypatch, kind):
    """Every batch writer, not just kv: -MOVED replies inside a
    pipelined batch (batch_size < rows) are replayed on the new owner,
    nothing leaks to the old one, and a non-redirect error reply still
    fails the write."""
    from pyspark.sql import Row

    from duckdb_redis_olap_scanner_spark import testing
    from duckdb_redis_olap_scanner_spark.sources.redis_source import (
        RedisHashWriter,
        RedisZSetWriter,
    )
    from duckdb_redis_olap_scanner_spark.sources.redis_stream_source import (
        RedisStreamWriter,
    )

    dispatch = testing._Handler._dispatch

    def dispatch_xadd_redirects(self, store, cmd):
        # The fake redirects the other key commands; a cluster node
        # redirects XADD the same way.
        red = cmd[0].upper() == "XADD" and self._redirect_for(store, cmd[1], False)
        return red or dispatch(self, store, cmd)

    monkeypatch.setattr(testing._Handler, "_dispatch", dispatch_xadd_redirects)
    with FakeRedisServer() as a, FakeRedisServer() as b:
        opts = {"host": a.host, "port": str(a.port), "batch_size": "4"}
        if kind == "hash":
            writer = RedisHashWriter(opts)
            rows = [Row(key=f"wh:{i:02d}", value={"f": str(i)}) for i in range(10)]
            want = {r.key: r.value for r in rows}
            moved = sorted(want)[::3]
            stored = lambda srv: srv.store.hashes  # noqa: E731
        elif kind == "zset":
            writer = RedisZSetWriter({**opts, "key": "wz"})
            rows = [Row(member=f"m{i}", score=float(i)) for i in range(10)]
            want = {"wz": {r.member: r.score for r in rows}}
            moved = ["wz"]
            stored = lambda srv: srv.store.zsets  # noqa: E731
        else:
            writer = RedisStreamWriter({**opts, "key": "ws"})
            rows = [Row(f=str(i)) for i in range(10)]
            want = {"ws": [{"f": r.f} for r in rows]}
            moved = ["ws"]
            stored = lambda srv: {  # noqa: E731
                k: [dict(zip(flat[::2], flat[1::2])) for _sid, flat in v]
                for k, v in srv.store.streams.items()
            }
        for k in moved:
            a.store.moved[k] = (b.host, b.port)
        writer.write(iter(rows))
        assert stored(b) == {k: v for k, v in want.items() if k in moved}
        assert stored(a) == {k: v for k, v in want.items() if k not in moved}

        a.store.moved.clear()
        a.seed_strings({k: "not-a-container" for k in moved})
        with pytest.raises(RespError, match="WRONGTYPE"):
            writer.write(iter(rows))


def test_hash_and_ttl_follow_redirects():
    """hgetall_pipelined fetches a migrated hash from its new owner
    (instead of misreporting {}), keeping the wrong-type → {} mapping
    for non-redirect errors; the TTL pipeline replays MOVED."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        with RedisClient(b.host, b.port) as cb:
            cb.command("HSET", "hm:1", "f", "v")
            cb.command("SET", "tm:1", "x")
            cb.command("EXPIRE", "tm:1", "120")
        a.seed_strings({"hm:2": "not-a-hash"})
        a.store.moved["hm:1"] = (b.host, b.port)
        a.store.moved["tm:1"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            maps = c.hgetall_pipelined(["hm:1", "hm:2", "hm:absent"])
            assert maps == [{"f": "v"}, {}, {}]
            replies = c.pipeline_checked([("TTL", "tm:1")])
            assert replies == [120]


def test_mget_recovers_from_crossslot_with_mixed_types():
    """A real cluster answers a multi-slot MGET with -CROSSSLOT
    (virtually every SCAN-page MGET); the client must fall back to
    per-key GETs — and a non-string key in the page must yield None
    (as MGET itself would), not crash on the stricter GET's
    WRONGTYPE."""
    with FakeRedisServer() as a:
        a.seed_strings({"cs:0": "v0", "cs:1": "v1"})
        with RedisClient(a.host, a.port) as seeder:
            seeder.command("HSET", "cs:hash", "f", "v")
        a.store.crossslot_mget = True
        with RedisClient(a.host, a.port) as c:
            assert c.mget(["cs:0", "cs:hash", "cs:1", "cs:absent"]) == [
                "v0", None, "v1", None,
            ]


def test_mget_moved_key_that_is_nonstring_on_target_yields_none():
    """A key that migrated AND is a non-string on its new owner: the
    redirected GET's WRONGTYPE maps to None, matching what MGET on
    the owner would return."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.seed_strings({"mv:0": "v0", "mv:h": "stale-string"})
        with RedisClient(b.host, b.port) as seeder:
            seeder.command("HSET", "mv:h", "f", "v")
        a.store.moved["mv:h"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            assert c.mget(["mv:0", "mv:h"]) == ["v0", None]


def test_mget_memoizes_crossslot_per_connection():
    """After one CROSSSLOT refusal, later mgets on the same connection
    skip the doomed multi-key attempt (one pipelined-GET round trip
    per page instead of failed-MGET + GETs); results unchanged."""
    with FakeRedisServer() as a:
        a.seed_strings({"ms:0": "v0", "ms:1": "v1"})
        a.store.crossslot_mget = True
        with RedisClient(a.host, a.port) as c:
            assert not c._mget_crossslot
            assert c.mget(["ms:0", "ms:1"]) == ["v0", "v1"]
            assert c._mget_crossslot
            # flag off server-side: the memo still answers correctly
            a.store.crossslot_mget = False
            assert c.mget(["ms:1", "ms:absent"]) == ["v1", None]
            # single-key mget never trips the memo path
            assert c.mget(["ms:0"]) == ["v0"]


def test_redirect_of_fuzz_never_crashes():
    """_redirect_of over arbitrary error text: parses every well-formed
    MOVED/ASK (including IPv6-style hosts via last-colon split),
    returns None for everything else, never raises."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis unavailable")

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=60))
    def _check(msg):
        out = _redirect_of(RespError(msg))
        if out is not None:
            kind, host, port = out
            assert kind in ("MOVED", "ASK")
            assert isinstance(port, int)
            # re-assembles into the wire form it was parsed from
            parts = msg.split()
            assert parts[0] == kind and parts[2] == f"{host}:{port}"

    _check()

    @settings(max_examples=200, deadline=None)
    @given(
        st.sampled_from(["MOVED", "ASK"]),
        st.integers(0, 16383),
        st.from_regex(r"[0-9a-zA-Z.:\-]{1,30}", fullmatch=True),
        st.integers(1, 65535),
    )
    def _well_formed(kind, slot, host, port):
        got = _redirect_of(RespError(f"{kind} {slot} {host}:{port}"))
        assert got == (kind, host, port)

    _well_formed()


def test_hgetall_moved_key_nonhash_on_target_maps_to_empty():
    """A hash key that migrated and was recreated as a STRING on its
    new owner: the redirected HGETALL's WRONGTYPE maps to {} (the
    documented error contract), not a task crash."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        b.seed_strings({"hw:1": "now-a-string"})
        a.store.moved["hw:1"] = (b.host, b.port)
        with RedisClient(a.host, a.port) as c:
            assert c.hgetall_pipelined(["hw:1"]) == [{}]


def test_pipeline_checked_repipelines_whole_moved_batch():
    """A writer batch whose single target key resharded: every command
    comes back MOVED and the replay goes out as ONE pipeline to the
    target (plus interleaved ASKING for ASK redirects), not one
    serial round trip per command."""
    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.store.moved["zb:key"] = (b.host, b.port)
        cmds = [("ZADD", "zb:key", str(float(i)), f"m{i}") for i in range(50)]
        with RedisClient(a.host, a.port) as c:
            replies = c.pipeline_checked(cmds)
        assert replies == [1] * 50
        assert len(b.store.zsets.get("zb:key", {})) == 50
        assert "zb:key" not in a.store.zsets
        # ASK flavor: target requires ASKING per command
        b.store.importing["za:key"] = (a.host, a.port)
        a.store.ask["za:key"] = (b.host, b.port)
        cmds = [("ZADD", "za:key", str(float(i)), f"n{i}") for i in range(10)]
        with RedisClient(a.host, a.port) as c:
            replies = c.pipeline_checked(cmds)
        assert replies == [1] * 10
        assert len(b.store.zsets.get("za:key", {})) == 10


def test_fake_set_replaces_any_key_type():
    with FakeRedisServer() as a:
        with RedisClient(a.host, a.port) as c:
            c.command("ZADD", "tt:1", "1", "m")
            c.command("SET", "tt:1", "v")
            assert c.get("tt:1") == "v"
            assert c.command("TYPE", "tt:1") == "string"


def test_pipeline_checked_surfaces_asking_errors():
    """When the ASK target rejects ASKING itself ('-ERR This instance
    has cluster support disabled', as a standalone node does), the
    replay must raise instead of silently consuming the error and
    trusting the following command reply."""
    from duckdb_redis_olap_scanner_spark import testing as T

    real_dispatch = T._Handler._dispatch

    def asking_disabled(self, store, cmd):
        if cmd and cmd[0].upper() == "ASKING":
            return b"-ERR This instance has cluster support disabled\r\n"
        return real_dispatch(self, store, cmd)

    with FakeRedisServer() as a, FakeRedisServer() as b:
        a.store.ask["askerr:1"] = (b.host, b.port)
        # only b (the ASK target) refuses ASKING
        orig = T._Handler._dispatch

        def routed(self, store, cmd):
            if store is b.store:
                return asking_disabled(self, store, cmd)
            return orig(self, store, cmd)

        T._Handler._dispatch = routed
        try:
            with RedisClient(a.host, a.port) as c:
                with pytest.raises(RespError, match="cluster support"):
                    c.pipeline_checked([("SET", "askerr:1", "v")])
        finally:
            T._Handler._dispatch = orig


def test_cluster_scan_exactly_once_during_migration(spark):
    """Mid-migration, a key is physically present on BOTH the source
    and target node (the target has received it, the source has not
    yet deleted it). The cluster_slots scan should report it exactly
    once — from the node that owns its slot in the topology snapshot —
    not once per node that happens to hold a copy."""
    from duckdb_redis_olap_scanner_spark.engine import register_datasources
    from duckdb_redis_olap_scanner_spark.sources.redis_source import key_slot
    from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer

    register_datasources(spark)
    nodes = [FakeRedisServer().start() for _ in range(2)]
    try:
        ranges = [(0, 8191), (8192, 16383)]
        keys = [f"mig:{i:04d}" for i in range(40)]
        owner_of = {}
        for k in keys:
            idx = 0 if key_slot(k) <= 8191 else 1
            owner_of[k] = idx
            nodes[idx].seed_strings({k: f"v:{k}"})
        # every 4th key is mid-migration: a stale copy also lives on
        # the NON-owning node
        for k in keys[::4]:
            nodes[1 - owner_of[k]].seed_strings({k: "stale-copy"})
        topo = [
            (lo, hi, n.host, n.port)
            for (lo, hi), n in zip(ranges, nodes)
        ]
        nodes[0].set_cluster_slots(topo)
        df = (
            spark.read.format("redis_scan")
            .option("host", nodes[0].host)
            .option("port", str(nodes[0].port))
            .option("pattern", "mig:*")
            .option("cluster_slots", "true")
            .load()
        )
        got = sorted(r.key_name for r in df.collect())
        assert got == sorted(keys)  # exactly once each, no dup rows
    finally:
        for n in nodes:
            n.stop()
