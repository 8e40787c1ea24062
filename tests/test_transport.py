"""Unit tests for the pure-Python RESP transport (no Spark)."""

from __future__ import annotations

import pytest

from duckdb_redis_olap_scanner_spark.transport.resp import (
    RedisClient,
    RespError,
    RespProtocolError,
    encode_command,
    parse_host_port,
)


def test_encode_command():
    assert (
        encode_command("SCAN", "0", "MATCH", "p:*", "COUNT", 2048)
        == b"*6\r\n$4\r\nSCAN\r\n$1\r\n0\r\n$5\r\nMATCH\r\n$3\r\np:*\r\n$5\r\nCOUNT\r\n$4\r\n2048\r\n"
    )


def test_parse_host_port():
    assert parse_host_port("127.0.0.1:6379") == ("127.0.0.1", 6379)
    assert parse_host_port("myhost:10") == ("myhost", 10)
    for bad in ["127.0.0.1", ":6379", "host:", None, "h:0", "h:70000",
                "h:+12", "h:6379 ", "h:abc", "h:1_0", "h:\u0661"]:
        with pytest.raises(ValueError):
            parse_host_port(bad)
    with pytest.raises(ValueError, match="HOST:PORT"):
        parse_host_port("h:abc")


def test_ping_get_mget(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        assert c.ping()
        assert c.get("testkey:0001") == "value:0001"
        # Missing key is SQL NULL, not "" (documented deviation from the
        # reference's empty-string quirk, redis_client.cpp:232-236).
        assert c.get("missing-key") is None
        assert c.mget(["testkey:0002", "missing", "testkey:0003"]) == [
            "value:0002",
            None,
            "value:0003",
        ]


def test_scan_batching_and_glob(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        # Small COUNT forces multiple cursor round trips.
        keys = [k for batch in c.scan_iter("testkey:*", count=3) for k in batch]
        assert sorted(keys) == [f"testkey:{i:04d}" for i in range(1, 11)]
        # Glob '?' single-char wildcard.
        keys = [k for b in c.scan_iter("testkey:000?", count=100) for k in b]
        assert sorted(keys) == [f"testkey:{i:04d}" for i in range(1, 10)]
        # Non-matching pattern → empty, loop still terminates.
        assert [k for b in c.scan_iter("zzz:*") for k in b] == []


@pytest.mark.parametrize("protocol", [2, 3])
def test_hgetall(redis_server, protocol):
    """Same dict surface over both wire forms: RESP2 flat field/value
    arrays and the RESP3 % map replies HELLO 3 switches on."""
    with RedisClient(
        redis_server.host, redis_server.port, protocol=protocol
    ) as c:
        assert c.negotiated_protocol == protocol
        assert c.hgetall("user:1001") == {"name": "ada", "age": "36"}
        assert c.hgetall("no-such-hash") == {}
        maps = c.hgetall_pipelined(["user:1001", "user:1002", "nope"])
        assert maps[1] == {"name": "grace", "city": "nyc"}
        assert maps[2] == {}


def test_hello_wire_shape(redis_server):
    """The protocol switch is observable on the wire: HGETALL comes
    back as a dict from _parse only when this connection sent HELLO 3
    (per-connection state, as in real Redis)."""
    with RedisClient(redis_server.host, redis_server.port) as c2, RedisClient(
        redis_server.host, redis_server.port, protocol=3
    ) as c3:
        assert c2.negotiated_protocol == 2
        assert c3.negotiated_protocol == 3
        # raw replies, pre-normalization: array vs map
        assert isinstance(c2.command("HGETALL", "user:1001"), list)
        assert isinstance(c3.command("HGETALL", "user:1001"), dict)
        info = c3.command("HELLO")
        assert info["proto"] == 3


def test_hello_unsupported_protocol_version(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        with pytest.raises(RespError):
            c.command("HELLO", 4)


def test_resp3_falls_back_on_resp2_only_server():
    """A server without HELLO (pre-6.0) answers it with an error; the
    client must degrade to RESP2 instead of failing to connect."""
    import socketserver
    import threading

    from duckdb_redis_olap_scanner_spark.transport.resp import _SocketReader

    class Resp2Only(socketserver.BaseRequestHandler):
        def handle(self):
            reader = _SocketReader(self.request)
            while True:
                try:
                    line = reader.read_line()
                except Exception:
                    return
                n = int(line[1:])
                args = []
                for _ in range(n):
                    hdr = reader.read_line()
                    args.append(
                        reader.read_exact(int(hdr[1:])).decode()
                    )
                cmd = args[0].upper()
                if cmd == "PING":
                    self.request.sendall(b"+PONG\r\n")
                else:
                    self.request.sendall(
                        b"-ERR unknown command '" + cmd.encode() + b"'\r\n"
                    )

    class Srv(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    srv = Srv(("127.0.0.1", 0), Resp2Only)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        host, port = srv.server_address
        with RedisClient(host, port, protocol=3) as c:
            assert c.negotiated_protocol == 2
            assert c.ping()
    finally:
        srv.shutdown()


def test_error_reply(redis_server):
    with RedisClient(redis_server.host, redis_server.port) as c:
        with pytest.raises(RespError):
            c.command("NOSUCHCOMMAND")


def test_resp3_parse_branches():
    """Direct wire-bytes coverage for the RESP3 tag set (double, bool,
    big number, null, verbatim, set, map, push) — branches a RESP2-only
    server never produces."""
    from duckdb_redis_olap_scanner_spark.transport.resp import _parse, _SocketReader

    class OneShot:
        def __init__(self, data: bytes) -> None:
            self.data = data

        def recv(self, _n: int) -> bytes:
            d, self.data = self.data, b""
            return d

    def parse(wire: bytes):
        return _parse(_SocketReader(OneShot(wire)))

    assert parse(b",3.25\r\n") == 3.25
    assert parse(b"#t\r\n") is True
    assert parse(b"#f\r\n") is False
    assert parse(b"(12345678901234567890123\r\n") == 12345678901234567890123
    assert parse(b"_\r\n") is None
    assert parse(b"=8\r\ntxt:abcd\r\n") == b"abcd"
    assert parse(b"~2\r\n:1\r\n:2\r\n") == [1, 2]
    assert parse(b">2\r\n+pub\r\n:7\r\n") == ["pub", 7]
    assert parse(b"%2\r\n$1\r\na\r\n:1\r\n$1\r\nb\r\n:2\r\n") == {"a": 1, "b": 2}
    # attribute: metadata map consumed, following reply returned
    assert parse(
        b"|1\r\n$7\r\nkey-pop\r\n,0.5\r\n*2\r\n:1\r\n:2\r\n"
    ) == [1, 2]
    assert parse(b"|0\r\n:7\r\n") == 7
    assert parse(b"$-1\r\n") is None
    assert parse(b"*-1\r\n") is None
    # Malformed lengths fail as protocol errors instead of desyncing
    # the stream (a negative length other than -1 used to read on) or
    # leaking a bare ValueError.
    for wire in (b"$-2\r\nhello world\r\n", b"*-3\r\n", b"=-5\r\n",
                 b"%-2\r\n", b"$abc\r\n", b"*1x\r\n", b":12a\r\n"):
        with pytest.raises(RespProtocolError):
            parse(wire)
    # A bulk string's two bytes after its payload must be CRLF: a
    # wrong length would otherwise shift the stream silently, and fail
    # (if at all) one reply later. Checked on a lone bulk string, on
    # the aggregate fast path (array and map) and on a malformed bulk
    # length inside an aggregate.
    for wire in (b"*2\r\n$3\r\nfooXY$3\r\nbar\r\n", b"$4\r\nab\r\n+OK\r\n",
                 b"$3\r\nfoo\n\r", b"%1\r\n$1\r\naXY:1\r\n",
                 b"*2\r\n:1\r\n$2\r\nab\r\r", b"*1\r\n$x\r\nab\r\n"):
        with pytest.raises(RespProtocolError):
            parse(wire)
    assert parse(b"*3\r\n$3\r\nfoo\r\n$-1\r\n$0\r\n\r\n") == [b"foo", None, b""]
