"""Scalar function surface mirroring the reference extension's scalars.

Reference registrations (``src/redduck_extension.cpp:348-362``):

* ``redis_get(key) -> VARCHAR`` — per-row GET, one TCP round trip per row
  under a mutex (``redduck_extension.cpp:327-342``).  Here: an
  iterator-of-Series ``pandas_udf`` holding ONE connection per executor
  partition and issuing pipelined ``MGET`` per Arrow batch — identical
  semantics, O(rows/batch) round trips instead of O(rows).
* ``redduck(name) -> VARCHAR`` — template demo returning
  ``"Redduck <name> 🐥"`` (``redduck_extension.cpp:17-22``).
* ``set_name(name) -> VARCHAR`` — template demo returning the constant
  ``"name is set"`` (``redduck_extension.cpp:24-40``).

Missing-key semantics: the reference coerces a missing key to ``""``
(``src/transport/redis_client.cpp:232-236``).  We surface SQL NULL by
default (the correct relational answer) and provide
``missing="empty"`` for bug-compatible behavior; tests pin both.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, LongType, MapType, StringType

from ..transport.resp import DEFAULT_SCAN_COUNT, RedisClient

# Keys per fetch round trip; Arrow batches are typically 10k rows, and a
# single MGET of that size is one round trip — chunk to bound reply size.
MGET_CHUNK = DEFAULT_SCAN_COUNT


def _per_key_udf(
    host: str,
    port: int,
    fetch: Callable[[RedisClient, list[str]], list],
    return_type: DataType,
    dtype: str,
):
    """An Arrow-vectorized UDF named after ``fetch``: one connection per
    executor partition (lazy, inside the iterator — sockets never
    pickle), each batch cut into ``MGET_CHUNK``-key chunks and one
    ``fetch(client, keys)`` round trip per chunk. SQL null-in →
    null-out: a NULL key is NOT the legal Redis key "" (substituting ""
    returned that key's value, or conflated NULL with missing — r14
    review), so NULL positions never reach the wire and stay NULL."""

    def per_key(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        with RedisClient(host, port) as client:
            for keys in batches:
                kl = keys.tolist()
                out: list = [None] * len(kl)
                for i in range(0, len(kl), MGET_CHUNK):
                    idx = [
                        j for j in range(i, min(i + MGET_CHUNK, len(kl)))
                        if kl[j] is not None
                    ]
                    if idx:
                        for j, v in zip(idx, fetch(client, [kl[j] for j in idx])):
                            out[j] = v
                yield pd.Series(out, dtype=dtype)

    per_key.__name__ = fetch.__name__  # the SQL column name
    return pandas_udf(per_key, return_type)


def make_redis_get(host: str, port: int, missing: str = "null"):
    """Build a ``redis_get(col) -> string`` Arrow-vectorized UDF: one
    MGET round trip per chunk. ``missing="empty"`` maps missing KEYS
    (not NULL keys) to ""."""
    fill_empty = missing == "empty"

    def redis_get(client: RedisClient, keys: list[str]) -> list:
        values = client.mget(keys)
        return ["" if v is None else v for v in values] if fill_empty else values

    return _per_key_udf(host, port, redis_get, StringType(), "object")


def make_redis_ttl(host: str, port: int):
    """Build a ``redis_ttl(key) -> long`` Arrow-vectorized UDF — the
    LongType surface SURVEY §3 reserved for the RESP integer type
    (the reference parses ``:`` replies but never exposes one to SQL).
    Redis semantics pass through untouched: seconds remaining, ``-1``
    for a key with no expiry, ``-2`` for a missing key; TTL(NULL) is
    NULL. One pipelined round trip per chunk."""

    def redis_ttl(client: RedisClient, keys: list[str]) -> list:
        # pipeline_checked: TTL never errors on a live standalone node,
        # but a cluster reshard answers -MOVED — replayed on the
        # target; anything else raises instead of crashing int()
        # opaquely.
        return [int(r) for r in client.pipeline_checked([("TTL", k) for k in keys])]

    # pandas nullable Int64 → Arrow int64 with nulls
    return _per_key_udf(host, port, redis_ttl, LongType(), "Int64")


def make_redis_hgetall(host: str, port: int):
    """Build a ``redis_hgetall(key) -> map<string,string>`` UDF.

    The reference documents this as returning a STRUCT (``README.md:36-38``)
    but never implements it; MapType is the schema-free Spark analogue.
    A NULL key is NULL, not the {} of a missing key.
    """

    def redis_hgetall(client: RedisClient, keys: list[str]) -> list:
        return client.hgetall_pipelined(keys)

    return _per_key_udf(
        host, port, redis_hgetall, MapType(StringType(), StringType()), "object"
    )


def redduck(name: Column | str) -> Column:
    """``redduck(name) -> 'Redduck <name> 🐥'`` — pure column expression,
    JVM-side (no UDF needed for a concat)."""
    col = F.col(name) if isinstance(name, str) else name
    return F.concat(F.lit("Redduck "), col, F.lit(" \U0001f425"))


def set_name(name: Column | str) -> Column:  # noqa: ARG001 - parity signature
    """``set_name(name) -> 'name is set'`` — constant per row, as in the
    reference demo scalar."""
    return F.lit("name is set")
