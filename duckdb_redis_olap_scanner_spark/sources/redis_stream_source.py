"""Structured Streaming source for Redis Streams (XADD/XRANGE).

The reference is batch-only (SURVEY.md §2.B: streaming "none"); this is
the engine's streaming growth path on the source axis: a Redis Stream
consumed as an unbounded table with exactly-once progress tracking.

Offsets are native Redis stream entry IDs ("ms-seq") — totally ordered
and durable on the server, so the checkpointed offset alone gives
exactly-once delivery across restarts for entries the server still
holds. Server-side eviction is the one hole XRANGE cannot paper over:
a trimmed stream (XTRIM / XADD MAXLEN) silently returns only the
surviving subset of a planned range, so the reader checks
``XINFO STREAM max-deleted-entry-id`` against the batch's checkpointed
start and FAILS LOUDLY when entries past the checkpoint were evicted
(r14 review) — both before and after paging, so a trim racing the
read window is caught too — instead of advancing the checkpoint over
a hole. On servers without XINFO max-deleted-entry-id (pre-7.0),
detection is unavailable and the weaker at-most-once-past-trim
contract applies — size MAXLEN to consumer lag; the fallback latest
offset (newest SURVIVING entry, marked ``xrevrange_fallback`` in the
checkpoint JSON) may sit below the checkpoint after such trims, which
``partitions()`` treats as "no new entries" rather than a rollback
(whole-key DEL stays loud there too: a trimmed-empty stream still
EXISTS, so an empty fallback read is only marked benign when TYPE
says the key survives). Whole-key deletion
under a live checkpoint raises at the next read ('no such key' is
loss, not a fresh start), and an offset that moves BACKWARDS (XSETID
rollback, recreation with explicit lower ids) raises in partitions().
The one undetectable case: deletion + recreation with AUTO-generated
ids — ms-clock ids land above the old checkpoint, making the new
stream indistinguishable from new data on the old one; pin explicit
ids or clear checkpoints when recreating streams:

* ``initialOffset``  → ``{"last_id": "0-0"}`` (before everything)
* ``latestOffset``   → the id of the newest entry at poll time
* ``partitions``     → one range partition ``(start, end]`` per trigger
* ``read``           → ``XRANGE (start end`` (exclusive start, Redis
  6.2 syntax) batched with COUNT — entries stream out in Arrow-friendly
  tuples without driver materialization of the whole range

Schema: (entry_id string, fields map<string,string>) — the raw shape;
downstream plans project map fields into typed columns.

Scale: a single Redis Stream is inherently ordered → one partition per
micro-batch (like the SCAN cursor, this matches the data structure's
contract). Fan-out at 100 TB comes from many streams (one per shard /
producer), each its own source in a union — the per-stream reader stays
sequential by design.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
)
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..transport.resp import DEFAULT_SCAN_COUNT, RedisClient
from .redis_source import _endpoint, _PipelinedWriter

import logging

_log = logging.getLogger(__name__)


class StreamRange(InputPartition):
    def __init__(
        self, host: str, port: int, key: str, start_id: str, end_id: str
    ) -> None:
        self.host = host
        self.port = port
        self.key = key
        self.start_id = start_id  # exclusive
        self.end_id = end_id  # inclusive


def _id_key(sid: str) -> tuple[int, int]:
    ms, seq = sid.split("-")
    return (int(ms), int(seq))


def _check_no_trim_loss(
    c: RedisClient, part: StreamRange, floor_id: str | None = None
) -> None:
    """Fail loudly when entries past ``floor_id`` (default: the batch's
    checkpointed exclusive start) were evicted by trimming (XTRIM /
    XADD MAXLEN) or XDEL: XRANGE would silently return only the
    surviving subset and the checkpoint would advance over a hole
    (r14 review). Detection reads Redis 7's ``XINFO STREAM
    max-deleted-entry-id`` via the transport's dual-shape
    :meth:`RedisClient.xinfo_stream`; a deleted id above the floor but
    within this batch's range can only belong to an entry this batch
    never delivered. Deletions ABOVE the batch end are left to the
    NEXT batch's pre-check (its start equals this end). The whole-key
    'no such key' error with a nonzero checkpoint is itself loss (the
    stream was deleted out from under the query); only a genuine
    pre-XINFO server ('unknown command') skips detection — the
    documented weaker contract."""
    from ..transport.resp import RespError, _as_str

    floor = _id_key(floor_id) if floor_id else _id_key(part.start_id)
    floor = max(floor, _id_key(part.start_id))
    try:
        info = c.xinfo_stream(part.key)
    except RespError as e:
        if "no such key" in str(e).lower():
            raise RuntimeError(
                f"redis_stream data loss on {part.key!r}: the stream "
                f"was deleted while this query's checkpoint stands at "
                f"{part.start_id} — any undelivered entries are gone. "
                "Clear the checkpoint to restart from a recreated "
                "stream"
            ) from e
        return  # pre-XINFO server: detection unavailable (documented)
    mdel_raw = info.get("max-deleted-entry-id")
    if mdel_raw is None:
        return
    mdel = _id_key(_as_str(mdel_raw))
    if floor < mdel <= _id_key(part.end_id):
        raise RuntimeError(
            f"redis_stream data loss on {part.key!r}: entries up to id "
            f"{_as_str(mdel_raw)} were deleted/trimmed server-side, "
            f"past this batch's delivered position "
            f"{floor_id or part.start_id} — undelivered rows are gone. "
            "Size the stream's MAXLEN above consumer lag, or clear the "
            "checkpoint to accept the surviving history"
        )


class RedisStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.host, self.port = _endpoint(options)
        self.key = options.get("key", "events")

    def initialOffset(self) -> dict:
        return {"last_id": "0-0"}

    def latestOffset(self) -> dict:
        # last-generated-id from XINFO STREAM, O(1) per trigger: it
        # SURVIVES entry deletion, so a fully-consumed stream whose
        # acknowledged entries were trimmed away (XTRIM/XDEL of
        # processed data — normal retention) reads as "no new entries"
        # instead of regressing to the newest SURVIVING entry and
        # spuriously tripping the offset-regression guard (r14
        # review). Fallbacks: a missing key reads 0-0 (a whole-key DEL
        # under a live checkpoint then fails loudly in partitions(),
        # as it should — undelivered entries may be gone); a
        # pre-XINFO server falls back to the newest surviving entry
        # (the documented weaker contract).
        from ..transport.resp import RespError, _as_str

        with RedisClient(self.host, self.port) as c:
            try:
                info = c.xinfo_stream(self.key)
                last = info.get("last-generated-id")
                if last is not None:
                    return {"last_id": _as_str(last)}
            except RespError as e:
                if "no such key" in str(e).lower():
                    return {"last_id": "0-0"}
                # pre-XINFO server: fall through to XREVRANGE
            # The fallback offset is the newest SURVIVING entry, which
            # routine retention (XTRIM of fully-consumed data) can pull
            # BELOW the checkpoint. Mark it so partitions() can tell
            # this benign case from a real id rollback instead of
            # permanently killing the query (r15 ADVICE); the marker
            # rides the checkpoint JSON alongside last_id.
            entries = c.xrevrange(self.key, "+", "-", count=1)
            if not entries:
                # Empty can mean full-trim (benign) OR whole-key DEL
                # (loss!). A trimmed-empty stream still EXISTS; only
                # mark the offset benign when it does, so DEL under a
                # live checkpoint keeps raising on pre-XINFO servers
                # too (r15 review — the first fallback fix silently
                # classified DEL as benign).
                if c.type_of(self.key) == "none":
                    return {"last_id": "0-0"}
                return {"last_id": "0-0", "xrevrange_fallback": True}
            return {"last_id": entries[0][0], "xrevrange_fallback": True}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = _id_key(start["last_id"]), _id_key(end["last_id"])
        if e == s:
            return []  # no new entries
        if e < s:
            if end.get("xrevrange_fallback"):
                # Pre-XINFO server: ``end`` is the newest SURVIVING
                # entry, which sits below the checkpoint whenever
                # retention trimmed fully-consumed data — "no new
                # entries", not a rollback; raising here permanently
                # killed the query on every routine XTRIM (r15
                # ADVICE). Real rollbacks on pre-7.0 servers fall
                # under the documented weaker no-XINFO contract — but
                # an indefinitely-silent [] would hide one forever, so
                # warn once per reader with the operator's options
                # (ADVICE r16).
                if not getattr(self, "_warned_fallback_regression", False):
                    self._warned_fallback_regression = True
                    _log.warning(
                        "redis_stream %r (pre-XINFO server): newest "
                        "surviving id %s is below the checkpoint %s. "
                        "This is benign if retention (XTRIM) removed "
                        "fully-consumed entries, but a genuine id "
                        "rollback (XSETID / stream recreation) looks "
                        "identical without XINFO and would be silently "
                        "skipped — verify the stream's id counter, or "
                        "clear the checkpoint to restart from the "
                        "current stream.",
                        self.key,
                        end["last_id"],
                        start["last_id"],
                    )
                return []
            # The newest live id fell BELOW the checkpoint: the stream
            # was deleted/recreated or XSETID-rolled-back. Returning []
            # forever would silently drop every entry at or below the
            # old checkpoint (r14 review) — only the operator can
            # decide whether to reset the checkpoint.
            raise RuntimeError(
                f"redis_stream offset regression on {self.key!r}: "
                f"checkpointed last_id {start['last_id']} is newer than "
                f"the stream's newest id {end['last_id']} — the stream "
                "was recreated or its id counter rolled back; clear the "
                "checkpoint to restart from the current stream"
            )
        return [
            StreamRange(
                self.host, self.port, self.key, start["last_id"], end["last_id"]
            )
        ]

    def read(self, part: StreamRange) -> Iterator[tuple]:
        with RedisClient(part.host, part.port) as c:
            # Loss checks apply to CHECKPOINTED batches; the initial
            # 0-0 batch reads the surviving history by design (Kafka
            # earliest-available semantics).
            checked = _id_key(part.start_id) != (0, 0)
            if checked:
                _check_no_trim_loss(c, part)
            cursor = part.start_id
            while True:
                page = c.xrange(
                    part.key, f"({cursor}", part.end_id, count=DEFAULT_SCAN_COUNT
                )
                if not page:
                    break
                for sid, fields in page:
                    yield (sid, fields)
                cursor = page[-1][0]
                if _id_key(cursor) >= _id_key(part.end_id):
                    break
            if checked:
                # Re-check AFTER paging with the highest id actually
                # delivered as the floor: a trim racing the read
                # window evicts in-range unread entries that the
                # pre-check could not see, and the NEXT batch starts
                # past them so it could never raise either (r14
                # review).
                _check_no_trim_loss(c, part, floor_id=cursor)

    def commit(self, end: dict) -> None:
        # Progress is tracked by Spark's checkpoint; nothing server-side
        # to acknowledge for XRANGE consumption.
        pass


class RedisStreamWriter(_PipelinedWriter, DataSourceStreamWriter):
    """Streaming sink: every row of the micro-batch becomes one XADD
    entry (auto id '*'), each column a stream field (nulls skipped),
    pipelined one round trip per ``batch_size`` rows per partition —
    the write-side mirror of the XRANGE COUNT paging on the read path.

    Delivery is AT-LEAST-ONCE: auto-id XADD is not idempotent, so a
    partition retried after a fault appends its rows again (the same
    trade every non-transactional append sink makes). Downstream
    consumers that need exactly-once dedup on a row key — e.g. the
    engine's own ``dropDuplicatesWithinWatermark`` operator."""

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.key = options.get("key", "events")

    def _commands(self, rows) -> Iterator[tuple]:
        for row in rows:
            flat: list[str] = []
            for col, val in row.asDict().items():
                if val is not None:
                    flat += [col, str(val)]
            if not flat:
                # XADD cannot represent a fieldless entry; skipping
                # would silently break the one-entry-per-row
                # contract (r14 review) — fail the task instead.
                raise ValueError(
                    "redis_stream write: row with all-NULL fields "
                    "cannot become an XADD entry — filter or fill "
                    "NULLs before writing"
                )
            yield ("XADD", self.key, "*", *flat)


class RedisStreamDataSource(DataSource):
    """``spark.readStream.format("redis_stream").option("key", k).load()``
    and ``df.writeStream.format("redis_stream").option("key", k)...``"""

    @classmethod
    def name(cls) -> str:
        return "redis_stream"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("entry_id", StringType(), False),
                StructField("fields", MapType(StringType(), StringType()), True),
            ]
        )

    def streamReader(self, schema: StructType) -> RedisStreamReader:
        return RedisStreamReader(self.options)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> RedisStreamWriter:
        return RedisStreamWriter(self.options)
