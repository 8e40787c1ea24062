"""Spans and counters around the engine's transport, installed from
outside the engine.

``Tracer.install`` wraps ``RedisClient.connect``/``command``/``pipeline``,
``resp.encode_command`` and the socket reader's refill; ``uninstall``
restores them. Each span records name, start, end, parent and trace id;
spans stay in memory until ``dump``. Encoding runs once per command, so
it is not a span per call: the encode calls inside one command or
pipeline span become a single ``transport.encode`` child covering them.

Also here: sockets that record a server's reply bytes and serve them
back, for the server-free decode replay.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import Counter
from contextlib import contextmanager

from duckdb_redis_olap_scanner_spark.transport import resp

_SPAN_OF_COMMAND = {"SCAN": "transport.scan", "MGET": "transport.mget"}
_SPAN_OF_PIPELINE = {"HGETALL": "transport.hgetall", "SET": "transport.write_pipeline"}


class _Span:
    __slots__ = ("id", "name", "parent", "trace", "start", "end", "enc")

    def __init__(self, id_, name, parent, trace, start):
        self.id, self.name, self.parent, self.trace = id_, name, parent, trace
        self.start, self.end = start, 0
        self.enc: list[int] | None = None  # [first encode start, last end]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[_Span] = []
        self.counts: Counter = Counter()
        self._stack: list[_Span] = []
        self._ids = itertools.count(1)
        self._trace = 0
        self._saved: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str) -> _Span:
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._trace += 1
        s = _Span(next(self._ids), name, parent.id if parent else None,
                  self._trace, time.perf_counter_ns())
        self._stack.append(s)
        return s

    def _close(self, s: _Span) -> None:
        s.end = time.perf_counter_ns()
        self._stack.pop()
        self.spans.append(s)
        if s.enc is not None:
            enc = _Span(next(self._ids), "transport.encode", s.id, s.trace, s.enc[0])
            enc.end = s.enc[1]
            self.spans.append(enc)

    @contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    # -- shims ---------------------------------------------------------------
    def install(self) -> None:
        tr = self
        RC, SR = resp.RedisClient, resp._SocketReader
        connect, command, pipeline = RC.connect, RC.command, RC.pipeline
        encode, fill = resp.encode_command, SR._fill

        def t_connect(client):
            with tr.span("transport.connect"):
                return connect(client)

        def t_command(client, *args):
            name = _SPAN_OF_COMMAND.get(str(args[0]).upper(), "transport.command")
            tr.counts["round_trips"] += 1
            with tr.span(name):
                try:
                    return command(client, *args)
                except resp.RespError:
                    tr.counts["errors"] += 1
                    raise

        def t_pipeline(client, commands):
            first = str(commands[0][0]).upper() if commands else ""
            tr.counts["round_trips"] += 1
            with tr.span(_SPAN_OF_PIPELINE.get(first, "transport.pipeline")):
                out = pipeline(client, commands)
            tr.counts["errors"] += sum(isinstance(r, resp.RespError) for r in out)
            return out

        def t_encode(*args):
            t0 = time.perf_counter_ns()
            out = encode(*args)
            t1 = time.perf_counter_ns()
            tr.counts["commands"] += 1
            tr.counts["bytes_out"] += len(out)
            cur = tr._stack[-1] if tr._stack else None
            if cur is not None:
                if cur.enc is None:
                    cur.enc = [t0, t1]
                else:
                    cur.enc[1] = t1
            return out

        def t_fill(reader):
            before = len(reader._buf)
            fill(reader)
            tr.counts["bytes_in"] += len(reader._buf) - before

        self._saved = [
            (RC, "connect", connect), (RC, "command", command),
            (RC, "pipeline", pipeline), (resp, "encode_command", encode),
            (SR, "_fill", fill),
        ]
        RC.connect, RC.command, RC.pipeline = t_connect, t_command, t_pipeline
        resp.encode_command, SR._fill = t_encode, t_fill

    def uninstall(self) -> None:
        for owner, attr, orig in self._saved:
            setattr(owner, attr, orig)
        self._saved = []

    # -- analysis ------------------------------------------------------------
    def trace_spans(self, trace: int) -> list[_Span]:
        return [s for s in self.spans if s.trace == trace]

    @staticmethod
    def self_times(spans: list[_Span]) -> dict[int, float]:
        """Span id → seconds of its interval no child span covers."""
        kids: dict[int, list[_Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in spans:
            covered, reach = 0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.id] = (s.end - s.start - covered) / 1e9
        return out

    def count_under(self, trace: int, name: str, ancestor: str) -> int:
        """Spans called ``name`` with an ``ancestor`` span in ``trace``."""
        spans = {s.id: s for s in self.trace_spans(trace)}

        def under(s) -> bool:
            while s.parent is not None:
                s = spans[s.parent]
                if s.name == ancestor:
                    return True
            return False

        return sum(1 for s in spans.values() if s.name == name and under(s))

    def orphans(self) -> int:
        """Spans whose parent is not a recorded span of the same trace."""
        ids = {(s.id, s.trace) for s in self.spans}
        return sum(
            1 for s in self.spans
            if s.parent is not None and (s.parent, s.trace) not in ids
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "trace": s.trace, "start_ns": s.start, "end_ns": s.end}
                    for s in self.spans
                ],
                f,
            )


def layer_times(tracer: Tracer, trace: int) -> dict[str, float]:
    """Inclusive and self seconds per span name within one trace."""
    spans = tracer.trace_spans(trace)
    selfs = Tracer.self_times(spans)
    out: Counter = Counter()
    for s in spans:
        out[s.name] += (s.end - s.start) / 1e9
        out[s.name + ".self"] += selfs[s.id]
    return dict(out)


# -- decode replay ------------------------------------------------------------


class RecordingSocket:
    """Passes traffic through and keeps every byte received."""

    def __init__(self, sock) -> None:
        self._sock = sock
        self.data = bytearray()

    def recv(self, n: int) -> bytes:
        chunk = self._sock.recv(n)
        self.data += chunk
        return chunk

    def sendall(self, b: bytes) -> None:
        self._sock.sendall(b)

    def close(self) -> None:
        self._sock.close()


class CannedSocket:
    """Serves recorded reply bytes, at most ``n`` per ``recv`` as a
    socket would; discards what is sent."""

    def __init__(self, data: bytes) -> None:
        self._data = memoryview(bytes(data))
        self._pos = 0

    def recv(self, n: int) -> bytes:
        chunk = self._data[self._pos : self._pos + n].tobytes()
        self._pos += len(chunk)
        return chunk

    def sendall(self, b: bytes) -> None:
        pass

    def close(self) -> None:
        pass


def attach(client: resp.RedisClient, sock) -> None:
    """Route ``client``'s traffic through ``sock``."""
    client._sock = sock
    client._reader = resp._SocketReader(sock)


def record(client: resp.RedisClient, fn):
    """Run ``fn(client)`` on a connected client, returning its result
    and the reply bytes it consumed."""
    rec = RecordingSocket(client._sock)
    attach(client, rec)
    return fn(client), bytes(rec.data)


def canned_client(data: bytes, protocol: int = 2) -> resp.RedisClient:
    client = resp.RedisClient("127.0.0.1", 0, protocol=protocol)
    attach(client, CannedSocket(data))
    return client
