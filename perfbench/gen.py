"""Seeded inputs of every workload, and the answers they must produce.

Everything a run feeds the engine derives from ``--seed``: the Redis
keyspaces and the lookup keys. The expected results are derived from
the same generators, never from the engine.
This module imports neither Spark nor the engine, so the fake-server
process and the benchmark process share it.
"""

from __future__ import annotations

import hashlib
import math
import zlib

import numpy as np

# Workload sizes. The ratios follow the benchmark's definition
# (200 000 kv keys : 20 000 hashes : 100 000 lookups), scaled by
# ``REDIS_SCALE`` so that a run fits its time budget on a 4-core host.
REDIS_SCALE = 0.5
SIZES = {
    "kv_scan": {
        "keys": int(200_000 * REDIS_SCALE),
        "prefixes": 64,
        "value_bytes": (50, 150),
    },
    "enrich_write": {
        "hashes": int(20_000 * REDIS_SCALE),
        "fields": 8,
        "field_bytes": (4, 12),
        "lookup_keys": int(100_000 * REDIS_SCALE),
        "lookup_partitions": 2,
        "missing_per_10": 1,
        "value_bytes": (16, 32),
    },
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _ascii_pool(rng: np.random.Generator, size: int = 1 << 20) -> str:
    return rng.integers(97, 123, size=size, dtype=np.uint8).tobytes().decode()


def _slices(rng, pool: str, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n).tolist()
    offs = rng.integers(0, len(pool) - hi, n).tolist()
    return [pool[o : o + n_] for o, n_ in zip(offs, lens)]


def crc(s: str) -> int:
    """CRC-32 of the UTF-8 bytes: Spark's ``crc32`` over a string."""
    return zlib.crc32(s.encode())


# -- kv_scan -----------------------------------------------------------------


def kv_items(seed: int) -> dict[str, str]:
    """String keys over 64 prefixes, values 50–150 B."""
    cfg = SIZES["kv_scan"]
    rng = _rng(seed, 1)
    n = cfg["keys"]
    prefixes = rng.integers(0, cfg["prefixes"], n).tolist()
    values = _slices(rng, _ascii_pool(rng), n, *cfg["value_bytes"])
    return {
        f"kv{p:02d}:{i:07d}": v for i, (p, v) in enumerate(zip(prefixes, values))
    }


def kv_prefix(key: str) -> str:
    return key[:4]


def expected_kv_groups(items: dict[str, str]) -> dict[str, tuple[int, int, int]]:
    """prefix → (count, sum(length(value)), sum(crc32(key || value)))."""
    out: dict[str, list[int]] = {}
    for k, v in items.items():
        acc = out.setdefault(kv_prefix(k), [0, 0, 0])
        acc[0] += 1
        acc[1] += len(v)
        acc[2] += crc(k + v)
    return {p: tuple(a) for p, a in out.items()}


# -- enrich_write ------------------------------------------------------------


def hash_items(seed: int) -> dict[str, dict[str, str]]:
    """Hashes of 8 fields each."""
    cfg = SIZES["enrich_write"]
    rng = _rng(seed, 2)
    n, f = cfg["hashes"], cfg["fields"]
    vals = _slices(rng, _ascii_pool(rng), n * f, *cfg["field_bytes"])
    return {
        f"h:{i:06d}": {f"f{j}": vals[i * f + j] for j in range(f)}
        for i in range(n)
    }


def hash_canon(key: str, fields: dict[str, str]) -> str:
    """The string the hash check hashes: key, then sorted field=value."""
    return key + "|" + ",".join(sorted(f"{k}={v}" for k, v in fields.items()))


def expected_hash(items: dict[str, dict[str, str]]) -> tuple[int, int, int]:
    """(rows, sum(size(value)), sum(crc32(hash_canon)))."""
    return (
        len(items),
        sum(len(m) for m in items.values()),
        sum(crc(hash_canon(k, m)) for k, m in items.items()),
    )


# The lookup keyspace is defined by SQL-expressible rules so that Spark
# can regenerate the write-back rows without touching Redis; the
# functions below are their Python twins.


def lookup_key(i: int) -> str:
    return f"g:{i:07d}"


def lookup_missing(seed: int, i: int) -> bool:
    return crc(f"{seed}#{i}") % 10 < SIZES["enrich_write"]["missing_per_10"]


def lookup_value(seed: int, i: int) -> str:
    lo, hi = SIZES["enrich_write"]["value_bytes"]
    n = lo + crc(f"{seed}/{i}") % (hi - lo + 1)
    return hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()[:n]


def lookup_sql(seed: int) -> dict[str, str]:
    """Spark SQL expressions over ``id`` matching the functions above."""
    lo, hi = SIZES["enrich_write"]["value_bytes"]
    miss = SIZES["enrich_write"]["missing_per_10"]
    return {
        "key": "concat('g:', lpad(cast(id AS string), 7, '0'))",
        "missing": f"pmod(crc32(concat('{seed}#', cast(id AS string))), 10) < {miss}",
        "value": (
            f"substring(sha2(concat('{seed}:', cast(id AS string)), 256), 1, "
            f"{lo} + pmod(crc32(concat('{seed}/', cast(id AS string))), {hi - lo + 1}))"
        ),
    }


def lookup_items(seed: int) -> dict[str, str]:
    """The string keys the lookup finds (the missing tenth is absent)."""
    n = SIZES["enrich_write"]["lookup_keys"]
    return {
        lookup_key(i): lookup_value(seed, i)
        for i in range(n)
        if not lookup_missing(seed, i)
    }


def expected_lookup(seed: int) -> tuple[int, int, int, int]:
    """(rows, non-null values, sum(length(value)), sum(crc32(key=value)))."""
    items = lookup_items(seed)
    return (
        SIZES["enrich_write"]["lookup_keys"],
        len(items),
        sum(len(v) for v in items.values()),
        sum(crc(f"{k}={v}") for k, v in items.items()),
    )


def lookup_mget_calls(rows: int, partitions: int, arrow_batch: int, chunk: int) -> int:
    """MGETs ``redis_get`` issues over ``spark.range(rows)`` split in
    ``partitions``: one per ``chunk`` keys of every Arrow batch."""
    calls = 0
    for p in range(partitions):
        part = rows * (p + 1) // partitions - rows * p // partitions
        full, rest = divmod(part, arrow_batch)
        calls += full * math.ceil(arrow_batch / chunk) + math.ceil(rest / chunk)
    return calls


def enrich_keyspace(seed: int) -> tuple[dict, dict]:
    return hash_items(seed), lookup_items(seed)
