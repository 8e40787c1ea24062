"""Query catalog: the registry behind ``__spark_entry__.queries()`` /
``oracle_sql()``.

Every capability from SURVEY.md §2 (and the §7 north-star extensions)
is declared here as a named entry pairing

* a Spark callable ``(spark, sf_dir) -> DataFrame`` (DataFrame API or
  ``spark.sql`` — both are the engine's public surface), and
* an equivalent ANSI-SQL oracle string DuckDB can run over the same
  parquet tables (``None`` for genuinely non-SQL-expressible ops, which
  the driver then checks rows-only).

Determinism / hash-match discipline (the driver compares value hashes
order-insensitively but exactly):

* Monetary/quantity SUMs are computed over ``DECIMAL(18,2)`` casts on
  BOTH sides — decimal aggregation is exact, so results are bitwise
  identical regardless of partial-aggregation order, then cast to
  DOUBLE for a common output schema.
* AVGs are expressed as exact-decimal SUM divided by COUNT (one double
  division of identical operands on both sides).
* Transcendentals (ln/exp/pow) are rounded to 6 decimals — Java Math
  and libm may differ in the last ulp.
* Every computed column is aliased identically on both sides; the
  driver sorts columns by name before hashing.
* Timestamps are cast to DATE or formatted strings in outputs (duckdb
  returns naive timestamps, Spark session-TZ ones).
"""

from __future__ import annotations

import os
import sys
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""
    # The undecorated registered function — the root of the
    # referenced-callable closure used by the changed-since-verified
    # gate tier (see ``_changed_since_verified``).
    raw_fn: Callable | None = None


_REGISTRY: dict[str, CatalogEntry] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable, session-unique cache key.

    ``id(spark)`` is unsafe: CPython reuses object ids after GC, so a
    DataFrame bound to a stopped session could be served to a new
    session whose id() collides. applicationId + startTime alone is
    also unsafe: ``spark.newSession()`` shares the SparkContext (same
    applicationId and startTime) but has its OWN session state — temp
    views registered in one session are invisible in the other, so a
    context-scoped key lets a fresh-session ``table()`` call poison
    view-based entries for the main session (found by the r16
    third-opinion audit: sf0.01 rows served at sf0.001). The JVM
    ``sessionUUID`` is generated per SparkSession instance and never
    reused, so it disambiguates sibling sessions; applicationId +
    startTime stays in the key as a belt-and-braces context scope.
    """
    sc = spark.sparkContext
    # The sessionUUID lookup is a py4j round trip; memoize it on the
    # Python wrapper (safe: the wrapper holds its JVM session for
    # life, and a different wrapper for the same JVM session re-reads
    # the same UUID). _session_key sits on every cached-plan call, so
    # this keeps the fix off the per-query dispatch floor.
    uuid = getattr(spark, "_drosp_session_uuid", None)
    if uuid is None:
        try:
            uuid = spark._jsparkSession.sessionUUID()
        except Exception:
            # No JVM handle (e.g. Spark Connect): fall back to a
            # nonce attached to the Python session wrapper. setattr
            # keeps the nonce alive exactly as long as the wrapper
            # object, so a recycled id() can never inherit a stale
            # nonce.
            import uuid as _uuid

            uuid = _uuid.uuid4().hex
        try:
            spark._drosp_session_uuid = uuid
        except Exception:
            pass
    key = f"{sc.applicationId}:{sc.startTime}:{uuid}"
    _touch_session(key)
    return key


# Session-unique keys make the caches CORRECT across newSession(),
# but without eviction they would also make them a leak: every fresh
# session's analyzed DataFrames would stay in _TABLE_CACHE and the
# per-entry memos forever, each pinning its (possibly discarded)
# SparkSession wrapper (r17 review). A weak-keyed map can't work here
# — the cached DataFrames hold their session strongly, so the cycle
# never collects. Instead: bounded per-session LRU. The cap covers
# any realistic number of CONCURRENT sessions (tunable for drivers
# that genuinely serve more — exceeding it with LIVE sessions turns
# the prepared-plan cache into thrash, so the first eviction warns
# once with the knob's name); a long-lived driver cycling
# newSession() per request evicts the dead ones as it goes.
def _session_cap() -> int:
    raw = os.environ.get("SPARK_GRAFT_MAX_CACHED_SESSIONS", "8")
    try:
        v = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_MAX_CACHED_SESSIONS={raw!r} is not an "
            "integer"
        ) from None
    # 0/negative would evict the CURRENT session on every call
    # (permanent thrash + unsweepable inserts); clamp to >= 1.
    return max(1, v)


_MAX_CACHED_SESSIONS = _session_cap()
_SESSION_LRU: dict[str, None] = {}
# every register() memo enrolls here so eviction can sweep it; keys
# of both _TABLE_CACHE and the memos start with the session key
_ALL_MEMOS: list[dict] = []
# One lock for every mutation of _SESSION_LRU / _TABLE_CACHE / the
# memos: the eviction sweep iterates these dicts, and an unlocked
# concurrent insert from another session's thread would raise
# "dictionary changed size during iteration" (r17 review pass 2).
_CACHE_LOCK = threading.RLock()
_WARNED_EVICTION = False


def _touch_session(key: str) -> None:
    global _WARNED_EVICTION
    doomed: list = []
    with _CACHE_LOCK:
        if key in _SESSION_LRU:
            # dict preserves insertion order; re-insert = move to end
            del _SESSION_LRU[key]
            _SESSION_LRU[key] = None
        else:
            _SESSION_LRU[key] = None
        while len(_SESSION_LRU) > _MAX_CACHED_SESSIONS:
            dead = next(iter(_SESSION_LRU))
            del _SESSION_LRU[dead]
            if not _WARNED_EVICTION:
                _WARNED_EVICTION = True
                import logging

                logging.getLogger(__name__).warning(
                    "evicting cached plans of session %s (more than "
                    "%d session keys seen). Benign for discarded "
                    "newSession()s; if this many sessions are LIVE, "
                    "raise SPARK_GRAFT_MAX_CACHED_SESSIONS to avoid "
                    "prepared-plan cache thrash.",
                    dead,
                    _MAX_CACHED_SESSIONS,
                )
            for memo in _ALL_MEMOS:
                for k in [k for k in memo if k[0] == dead]:
                    doomed.append(memo.pop(k))
            for k in [k for k in _TABLE_CACHE if k[0] == dead]:
                doomed.append(_TABLE_CACHE.pop(k))
    # Release JVM-side storage OUTSIDE the lock: table_keyed frames
    # are persisted (.cache()), and dropping the last Python
    # reference would strand their blocks in the shared CacheManager
    # with no handle left to free them (r17 review pass 2) — but each
    # unpersist is a py4j round trip, and holding the global lock
    # across the sweep would stall every catalog call in every
    # session (pass 3). unpersist on a never-persisted frame is a
    # no-op; a stopped session raises, which is equally fine — its
    # blocks died with the context.
    for df in doomed:
        try:
            df.unpersist()
        except Exception:
            pass


def _insert_cache_row(cache: dict, k, df) -> None:
    """All cache inserts go through here: under the lock, AND with the
    session key re-touched — a key evicted between the caller's
    _session_key() and this insert would otherwise leave the new row
    unsweepable forever (r17 review pass 3). The RLock makes the
    nested _touch_session safe; its eviction work happens before our
    insert, so the row we add belongs to a key that is in the LRU."""
    with _CACHE_LOCK:
        _touch_session(k[0])
        cache[k] = df


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Decorator registering a catalog query.

    The registered callable memoizes the built DataFrame per
    (session, sf_dir) — a prepared-plan cache. Building a big pipeline
    through the Python DSL costs 0.1–0.5 s of py4j round trips and JVM
    analysis; a DataFrame is an immutable plan, so re-serving it to
    repeat callers is free and changes nothing about execution.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog entry {name!r}")
        memo: dict[tuple[str, str], DataFrame] = {}
        _ALL_MEMOS.append(memo)  # so session eviction can sweep it

        def cached_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            k = (_session_key(spark), os.path.abspath(sf_dir))
            df = memo.get(k)
            if df is None:
                df = fn(spark, sf_dir)
                _insert_cache_row(memo, k, df)
            return df

        cached_fn.__name__ = fn.__name__
        cached_fn.__doc__ = fn.__doc__
        _REGISTRY[name] = CatalogEntry(
            name, cached_fn, oracle, tuple(tags), doc, fn
        )
        return fn

    return deco


# Entries the driver's correctness gate already hash-verified in a prior
# round (CORRECTNESS_r01.json). The gate checks the FIRST 50 registry
# entries in iteration order, so ``registry()`` orders not-yet-verified
# entries first: each round the unverified frontier rotates into the
# gate while previously-verified entries keep their local oracle-parity
# test (tests/test_oracle_parity.py runs the identical check over ALL
# entries). ``_prior_verified()`` additionally reads every
# CORRECTNESS_r*.json in the repo root, so the rotation advances each
# round without editing this baseline set.
_PRIOR_VERIFIED: frozenset[str] = frozenset({
    # --- round 1 (CORRECTNESS_r01.json, all hash_match=true) ---
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "join_inner_groupby",
    "join_left_outer", "join_right_outer", "join_full_outer", "join_semi",
    "join_anti", "join_theta", "join_cross", "agg_distinct_count",
    "distinct_rows", "agg_rollup", "agg_cube", "agg_grouping_sets",
    "agg_having", "agg_stats", "agg_approx_distinct", "agg_approx_percentile",
    "window_row_number", "window_rank_dense", "window_lag_lead",
    "window_running_sum", "window_moving_avg", "window_ntile_first_last",
    "topk_orders", "sort_multi_key", "set_union_all", "set_intersect",
    "set_except", "string_funcs", "like_case_funcs", "regexp_funcs",
    "math_funcs", "date_funcs", "json_funcs", "conditional_agg",
    "null_funcs", "cast_funcs", "array_funcs", "subquery_in_scalar",
    "pivot_event_types", "events_sessionize", "set_except_all",
    "set_intersect_all", "lateral_posexplode", "map_funcs",
})


def _repo_root() -> str:
    """Where the driver writes CORRECTNESS_r*.json (patchable in tests)."""
    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _verified_rounds() -> dict[str, int]:
    """name → the NEWEST driver round with a green CORRECTNESS row for
    it (``hash_match`` for oracled entries, error-free ``rows_match``
    for rows-only ones). Baseline entries count as round 1."""
    import glob
    import json
    import re

    rounds: dict[str, int] = {n: 1 for n in _PRIOR_VERIFIED}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rno = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if row.get("hash_match") or (
                row.get("rows_match") and name in _REGISTRY
                and _REGISTRY[name].oracle is None
            ):
                rounds[name] = max(rounds.get(name, 0), rno)
    return rounds


def _prior_verified() -> frozenset[str]:
    """The baseline set plus every entry a recorded driver round has
    already verified."""
    return frozenset(_verified_rounds())


def _round_commits(root: str) -> dict[int, str]:
    """Driver round number → the commit that last touched its
    CORRECTNESS file, from ONE ``git log`` pass. Empty when git/history
    is unavailable (e.g. the synthetic tmp repo roots the rotation
    tests use) — callers then skip the changed-since-verified tier and
    fall back to pure LRU."""
    import re
    import subprocess

    out: dict[int, str] = {}
    try:
        log = subprocess.run(
            ["git", "log", "--format=%H", "--name-only",
             "--", "CORRECTNESS_r*.json"],
            cwd=root, capture_output=True, text=True, timeout=60,
        )
        if log.returncode != 0:
            return {}
        sha = ""
        # newest-first: the first commit naming a round's file wins
        for line in log.stdout.splitlines():
            line = line.strip()
            if re.fullmatch(r"[0-9a-f]{40}", line):
                sha = line
            else:
                m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", line)
                if m and int(m.group(1)) not in out:
                    out[int(m.group(1))] = sha
    except (OSError, subprocess.SubprocessError):
        return {}
    return out


def _git_blob(root: str, commit: str, relpath: str,
              _cache: dict[tuple[str, str], str | None] = {}) -> str | None:
    """File content at a commit (None if absent there)."""
    import subprocess

    key = (commit, relpath)
    if key not in _cache:
        try:
            show = subprocess.run(
                ["git", "show", f"{commit}:{relpath}"],
                cwd=root, capture_output=True, text=True, timeout=60,
            )
            _cache[key] = show.stdout if show.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            _cache[key] = None
    return _cache[key]


def _code_imports(code, _cache: dict = {}) -> list:
    """(module_name, attr_or_None) pairs for every import executed by
    this code object — ``IMPORT_NAME`` gives the module (possibly ""
    for ``from . import x``), each following ``IMPORT_FROM`` one
    imported attr. Cached per code object (the walker revisits shared
    helpers across entries)."""
    import dis

    key = id(code)
    hit = _cache.get(key)
    if hit is not None and hit[0] is code:
        return hit[1]
    pairs: list = []
    current: str | None = None
    saw_from = False
    trailing: list = []  # components of a dotted ``import a.b.c as x``
    for ins in dis.get_instructions(code):
        if ins.opname == "IMPORT_NAME":
            if current is not None and not saw_from:
                pairs.append((current, None))  # plain ``import x.y``
            current, saw_from = ins.argval, False
            trailing = current.split(".")[1:]
        elif ins.opname == "IMPORT_FROM" and current is not None:
            saw_from = True
            if trailing and ins.argval == trailing[0]:
                # ``import a.b.c as x`` compiles to IMPORT_NAME a.b.c
                # + IMPORT_FROM per trailing component (3.7+): record
                # the leaf MODULE, not bogus attr pairs. Matching each
                # expected component in order keeps a genuine ``from
                # a.b import c`` as an attr pair (a ``from a.b import
                # b`` misreads as the module — a harmless
                # over-approximation, the module covers the attr).
                trailing.pop(0)
                if (current, None) not in pairs:
                    pairs.append((current, None))
            else:
                trailing = []
                pairs.append((current, ins.argval))
    if current is not None and not saw_from:
        pairs.append((current, None))
    _cache[key] = (code, pairs)
    return pairs


def _resolve_import_all(modname: str, base_pkg: str, pkg: str):
    """Best-effort resolution of an imported module name, yielding
    EVERY in-package candidate: absolute first, then relative to the
    importing module's package chain. Only modules inside this package
    resolve (stdlib/pyspark imports yield nothing — they can't dirty
    entries). Candidates under the package prefix that aren't in
    ``sys.modules`` yet are IMPORTED: a module referenced only from
    entry bodies (ann_index before any entry ran) would otherwise be
    invisible to the dirty walk — the exact hole the bytecode recovery
    exists to close (r15 review). Yielding ALL candidates, not just
    the first, lets the caller keep looking when the imported attr is
    missing on a shallower match: the bytecode drops the relative-
    import LEVEL, so ``from .. import helper`` inside ``pkg.plans.x``
    produces candidates ``pkg.plans`` (no ``helper`` attr) and then
    ``pkg`` (the real target) — first-match-wins silently dropped the
    pair (ADVICE r16)."""
    candidates = []
    if modname:
        candidates.append(modname)
    p = base_pkg
    while p:
        candidates.append(f"{p}.{modname}" if modname else p)
        p = p.rpartition(".")[0]
    for cand in candidates:
        mod = sys.modules.get(cand)
        if mod is None and (cand + ".").startswith(pkg) \
                and cand not in _IMPORT_MISSES \
                and cand not in _IMPORT_TRANSIENT:
            import importlib

            try:
                mod = importlib.import_module(cand)
            except ModuleNotFoundError:
                _IMPORT_MISSES.add(cand)  # permanent: not a module
                mod = None
            except Exception:
                # The module can't import in THIS process state (e.g.
                # custom_fns needs a live SparkSession at import) — it
                # stays unresolved for now, but the failure is only
                # cached until the next walk (_changed_since_verified
                # clears it): the state may have changed by then, and
                # a forever-cached transient failure would re-open the
                # missed-local-import hole for that module (r15
                # review pass 2).
                _IMPORT_TRANSIENT.add(cand)
                mod = None
        if mod is not None and (mod.__name__ + ".").startswith(pkg):
            yield mod


def _resolve_import(modname: str, base_pkg: str, pkg: str):
    """First in-package candidate, for callers that need exactly one
    module (the submodule retry, where the name is already fully
    qualified)."""
    return next(_resolve_import_all(modname, base_pkg, pkg), None)


_IMPORT_MISSES: set[str] = set()
_IMPORT_TRANSIENT: set[str] = set()  # cleared per dirty walk


def _referenced_pkg_callables(fn) -> frozenset:
    """The transitive closure of THIS-PACKAGE functions/classes an
    entry's registered function actually references — resolved by
    walking code objects' global-name loads (``co_names``, including
    nested lambdas/comprehensions and closure cells) rather than
    module imports, so one edited helper dirties only the entries that
    call it, not every entry in a 2 kLoC module. Names reached through
    a package-module alias (``D.segment_dedup``) are resolved against
    that module's namespace. Function-LOCAL imports (``from .catalog
    import agg_width`` inside a body) never bind in ``__globals__``,
    so they are recovered from the bytecode: each ``IMPORT_NAME`` is
    resolved against ``sys.modules`` (absolute, then relative to the
    enclosing package chain) and its ``IMPORT_FROM`` attrs pushed —
    without this, editing a locally-imported helper dirtied nothing
    (the r15 honesty fix)."""
    import inspect
    import types

    pkg = __name__.split(".")[0] + "."

    def in_pkg(obj) -> bool:
        return (getattr(obj, "__module__", "") or "").startswith(pkg) or \
            getattr(obj, "__module__", "") == pkg[:-1]

    out: set = set()
    visited: set = set()
    stack = [fn]

    def push(obj) -> None:
        obj = getattr(obj, "__func__", obj)  # classmethod/staticmethod
        if callable(obj) and in_pkg(obj):
            stack.append(obj)

    while stack:
        f = stack.pop()
        f = inspect.unwrap(f)
        try:
            if f in visited:
                continue
            visited.add(f)
        except TypeError:
            continue
        if isinstance(f, type):
            # A class: its getsource covers the whole body, and its
            # methods are walked for further references — this is how
            # entries reach Engine and (through ALL_DATASOURCES) the
            # DataSource/Reader classes behind string format names.
            # Package base classes are walked too: an inherited method
            # (a shared reader or writer loop) is code the entry runs.
            if in_pkg(f):
                out.add(f)
                for v in (*vars(f).values(), *f.__bases__):
                    push(v)
            continue
        code = getattr(f, "__code__", None)
        if code is None:
            # pyspark UDF wrappers hold the python fn as ``.func``
            inner = getattr(f, "func", None)
            code = getattr(inner, "__code__", None)
            if code is None:
                continue
            f = inner
        if in_pkg(f):
            out.add(f)
        names: set[str] = set()
        local_imports: list[tuple[str, str | None]] = []  # (module, attr)
        codes = [code]
        while codes:
            c = codes.pop()
            names.update(c.co_names)
            names.update(c.co_freevars)
            codes.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
            local_imports.extend(_code_imports(c))
        g = getattr(f, "__globals__", {})
        base_pkg = getattr(
            sys.modules.get(getattr(f, "__module__", "") or ""),
            "__package__", None) or ""
        pkg_mods = []
        for modname, attr in local_imports:
            target = None
            # Try EVERY candidate module, not just the first: the
            # bytecode loses the relative-import level, so the attr
            # may only exist on a shallower package in the chain —
            # first-match-wins silently dropped ``from .. import
            # helper`` when a deeper candidate lacked it (ADVICE r16).
            for mod in _resolve_import_all(modname, base_pkg, pkg):
                target = getattr(mod, attr, None) if attr else mod
                if target is None and attr:
                    # ``from pkg import submodule`` where the
                    # submodule was never imported: the attribute
                    # doesn't exist on the package object until import
                    # — resolve it as a module in its own right (r15
                    # review: ann_index is imported only inside entry
                    # bodies).
                    target = _resolve_import(
                        f"{mod.__name__}.{attr}", "", pkg
                    )
                if target is not None:
                    break
            if isinstance(target, types.ModuleType):
                # ``from . import dedup as D`` / ``import pkg.mod``:
                # attribute uses (D.segment_dedup) resolve via co_names
                # against the module namespace, same as global aliases.
                if (target.__name__ + ".").startswith(pkg):
                    pkg_mods.append(target)
            elif isinstance(target, (list, tuple)) and len(target) <= 64:
                for x in target:
                    push(x)
            elif target is not None:
                push(target)
        for n in names:
            obj = g.get(n)
            if isinstance(obj, types.ModuleType):
                if (obj.__name__ + ".").startswith(pkg):
                    pkg_mods.append(obj)
            elif isinstance(obj, (list, tuple)) and len(obj) <= 64:
                # registry constants like engine.ALL_DATASOURCES
                for x in obj:
                    push(x)
            else:
                push(obj)
        for mod in pkg_mods:
            for n in names:
                push(getattr(mod, n, None))
        for cell in getattr(f, "__closure__", None) or ():
            try:
                push(cell.cell_contents)
            except ValueError:
                continue
    return frozenset(out)


_DIRTY_CACHE: dict[tuple, dict[str, int]] = {}


def _changed_since_verified(rounds: dict[str, int]) -> dict[str, int]:
    """Entries running code the driver never hash-checked: some
    function in the entry's referenced-callable closure has source text
    (current, in-memory) that did NOT exist verbatim in its file's blob
    at the commit of the entry's last verified round.

    Returns dirty-entry → "change round": the OLDEST driver round whose
    commit already contains the entry's current code — i.e. roughly the
    round the change landed (max round + 1 when only the uncommitted
    working tree matches). ``registry()`` bumps dirty entries to the
    front of the verified gate window, newest change first, instead of
    waiting ~ceil(N/50) rounds for LRU to cycle back to them. Memoized
    per (repo root, verified-rounds state): one git history walk + a
    few hundred cached blob substring checks."""
    import inspect

    root = _repo_root()
    cache_key = (root, tuple(sorted(rounds.items())))
    hit = _DIRTY_CACHE.get(cache_key)
    if hit is not None:
        return hit
    # Retry transiently-unimportable modules each fresh walk — the
    # process state (a live SparkSession) may have changed since.
    _IMPORT_TRANSIENT.clear()
    commits = _round_commits(root)
    if not commits:
        _DIRTY_CACHE[cache_key] = {}
        return {}

    src_cache: dict = {}

    def fn_src_and_file(f):
        if f not in src_cache:
            try:
                src = inspect.getsource(f)
                rel = os.path.relpath(
                    os.path.abspath(inspect.getfile(f)), root)
            except (OSError, TypeError):
                src, rel = None, None
            src_cache[f] = (src, rel)
        return src_cache[f]

    changed_at: dict[tuple, bool] = {}

    def changed(f, commit) -> bool:
        key = (f, commit)
        if key not in changed_at:
            src, rel = fn_src_and_file(f)
            if src is None:
                changed_at[key] = False
            else:
                blob = _git_blob(root, commit, rel)
                changed_at[key] = blob is None or src not in blob
        return changed_at[key]

    dirty: dict[str, int] = {}
    for name, rno in rounds.items():
        entry = _REGISTRY.get(name)
        commit = commits.get(rno)
        if entry is None or entry.raw_fn is None or commit is None:
            continue
        closure = _referenced_pkg_callables(entry.raw_fn)
        if any(changed(f, commit) for f in closure):
            dirty[name] = min(
                (r for r, c in commits.items()
                 if not any(changed(f, c) for f in closure)),
                default=max(commits) + 1,
            )
    _DIRTY_CACHE[cache_key] = dirty
    return dirty


def registry() -> dict[str, CatalogEntry]:
    """All catalog entries (imports the defining modules on first use).

    Iteration order is verification-priority order: entries without a
    prior driver CORRECTNESS row first (registration order within the
    frontier), then verified entries whose source-file closure CHANGED
    after their last verified round ("dirty" — running code the driver
    never hash-checked; see ``_changed_since_verified``), then the
    remaining prior-verified entries. Both verified tiers sort
    least-recently-verified first (registration order within a round).
    The driver's gate checks the first 50 entries, so once the frontier
    is empty every entry cycles back through the gate every
    ~ceil(N/50) rounds — and a modified entry re-enters the very next
    window instead of waiting out the LRU cycle. See
    ``_verified_rounds``.
    """
    # Local imports to avoid import cycles; each module registers on import.
    from . import relational  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import redis_demo  # noqa: F401
    from . import streaming_ops  # noqa: F401
    from . import temporal_ops  # noqa: F401

    # Round-2 additions import LAST: within the unverified frontier,
    # round-1 entries (never yet driver-checked) keep gate priority.
    from . import relational2  # noqa: F401
    from . import pipeline_ops2  # noqa: F401
    from . import pipeline_ops3  # noqa: F401
    from . import pipeline_ops4  # noqa: F401
    from . import pipeline_ops5  # noqa: F401

    # r20 landing of the r19-queued interleaved-AVI entry (the
    # prescribed one-call step from plans/queued_entries_r20.py).
    from . import queued_entries_r20

    queued_entries_r20.register_queued()

    rounds = _verified_rounds()
    frontier = {n: e for n, e in _REGISTRY.items() if n not in rounds}
    dirty = _changed_since_verified(rounds)
    reg_pos = {n: i for i, n in enumerate(_REGISTRY)}
    verified = {
        n: _REGISTRY[n]
        for n in sorted(
            (n for n in _REGISTRY if n in rounds),
            key=lambda n: (
                # dirty first; within dirty, newest change first
                (0, -dirty[n]) if n in dirty else (1, 0),
                rounds[n], reg_pos[n],
            ),
        )
    }
    return {**frontier, **verified}


# Catalog metadata cache: (session key, sf_dir, table) → analyzed DataFrame.
# A DataFrame is an immutable logical plan, so sharing one across queries
# is safe; re-running spark.read.parquet costs ~100 ms of file listing +
# footer/schema reads per call, which dominates plan-build time for
# multi-table queries. Real engines cache catalog metadata the same way.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Tables whose loads fan out to the session's full width at the scan
# (forced hash layout on the listed key). r21 REDUCED this set to the
# two corpora feeding CPU-bound per-row work (hashing, shingling,
# vector math) whose consumers measurably need the wide layout.
#
# The relational tables (lineitem/orders/customer/supplier/part/events)
# used to be force-repartitioned on their join keys here too — the
# "keyed layout" co-location strategy. That was only free while the
# bench cached the repartitioned tables OUTSIDE the timed region; with
# caching removed (r21 measurement fix), the layout exchange runs
# inside every query, and it is exactly the shuffle the guide says to
# remove: a join inserts the same exchange itself when it needs one
# (ENSURE_REQUIREMENTS — same bytes, same width), while scan-bound
# aggregations (q1/q6/q19/q14) were paying a full fact shuffle BEFORE
# their map-side partial agg for nothing. Measured (min-of-N, noop
# sink): sf0.1 suite 7.2→5.95 s, 10× suite 19.5→16.5 s; q1 0.93→0.17 s
# and q6 0.45→0.11 s at 10× (where the parquet splits wide naturally,
# so the forced repartition was pure cost). Per-operator width fixes
# (operators.util.fan_out's non-forced path, agg_width/scorer_width)
# keep narrow scans parallel where the per-row work warrants it.
_TABLE_KEYS: dict[str, str] = {
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# Shuffle-partition sizing: one reduce partition per this many bytes
# of the LARGEST table (lineitem), so partition count tracks data
# volume instead of being a fixed constant (clamped to [4, cpus] in
# suggested_shuffle_partitions; saturates to full parallelism at
# cluster volume, where AQE coalescing takes over). r21: 1 MiB → 2 MiB
# per partition — with raw-scan loads the exchanges carry partially
# aggregated rows, and per-reducer dispatch dominates below ~2 MiB of
# source bytes per partition (interleaved A/B at sf0.1: width 6 beats
# width 11 by ~6% across the exchange-heavy queries, width 4 ties).
_PART_BYTES = 2 << 20


def _file_size(sf_dir: str, name: str) -> int:
    """On-disk bytes of one table's parquet — THE statistics source for
    every cost gate below, and the single seam tests monkeypatch
    (r21 ADVICE: test_band_gates patched os.path.getsize globally,
    which PySpark internals also call mid-test). Raises ``OSError``
    when stats are missing; each gate maps that to its own safe
    cluster assumption."""
    return os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))


def suggested_shuffle_partitions(sf_dir: str, cpus: int) -> int:
    """Volume-proportional ``spark.sql.shuffle.partitions`` (also the
    partition count of :func:`table_keyed` secondary layouts).

    Sized from lineitem (the largest table) at ``_PART_BYTES`` of
    source parquet per reduce partition, clamped to [4, cpus]: at test
    scale this keeps stages a few tasks wide (per-reducer dispatch
    dominates tiny stages), at cluster scale the cap is the full
    parallelism and AQE coalescing owns the final width.
    """
    import math

    try:
        size = _file_size(sf_dir, "lineitem")
    except OSError:
        return cpus
    return max(4, min(math.ceil(size / _PART_BYTES), cpus))


def _keyed_parts(spark: SparkSession, sf_dir: str) -> int:
    return suggested_shuffle_partitions(
        sf_dir, spark.sparkContext.defaultParallelism
    )


def _volume_width(
    sf_dir: str, name: str, cpus: int, bytes_per_task: int
) -> int | None:
    """ONE volume-proportional task-width formula behind the three
    calibrated front doors (:func:`scorer_width`, :func:`agg_width`,
    :func:`keyed_agg_width` — same shape, different bytes-per-task
    budgets; unified r15 after they drifted into three near-copies).

    ``ceil(on-disk parquet bytes / bytes_per_task)`` while that is
    below ``cpus``; ``None`` once the volume saturates the parallelism
    (or stats are unavailable), telling the caller NOT to narrow — a
    coalesce/repartition that "converges" to ``cpus`` at volume would
    invert from an optimization into lost load balancing (ADVICE r13),
    so past saturation the session's own width must win untouched."""
    import math

    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return None
    width = math.ceil(size / bytes_per_task)
    return max(1, width) if width < cpus else None


_SCORER_BYTES_PER_TASK = 4 << 20


def scorer_width(sf_dir: str, name: str, cpus: int) -> int:
    """Task count for a vectorized (Arrow) scorer over table ``name``:
    one task per ~4 MiB of on-disk parquet, clamped to [1, cpus].

    Each Arrow task pays a fixed worker round-trip (serialization +
    Python dispatch, ~10-20 ms); spreading a small corpus over the full
    cache width multiplies that fixed cost for no throughput (measured
    at sf0.1, 10k vectors: 32 tasks 0.60 s → 1 task 0.27 s). Volume-
    proportional sizing converges to the full scan width as data grows,
    so the coalesce it feeds becomes a no-op at cluster scale. The
    ``coalesce`` target must be a real int, so saturation maps to
    ``cpus`` here rather than :func:`_volume_width`'s ``None``."""
    width = _volume_width(sf_dir, name, cpus, _SCORER_BYTES_PER_TASK)
    return cpus if width is None else width


# ~1.5 MiB of source parquet per hash-aggregation task: a JVM
# hash+project pipeline processes that in a few ms, comparable to the
# per-task dispatch cost, so narrower would serialize CPU work and
# wider would pay pure scheduling. Smaller than the Arrow scorers'
# 4 MiB because a JVM task skips the Python round-trip.
_AGG_BYTES_PER_TASK = 3 << 19


def agg_width(sf_dir: str, name: str, cpus: int) -> int | None:
    """Task count for a whole-table hash aggregation over ``name`` —
    the JVM twin of :func:`scorer_width` — or ``None`` when the
    volume already saturates the parallelism.

    The r11 bench audit left ``dedup_exact`` as the one over-floor
    weak query (3× same-box DuckDB at sf0.1); profiling (SCALE.md
    "dedup_exact width" note) showed ~75% of its runtime was per-task
    dispatch — 5 000 rows spread over the session's 32-wide cached
    layout is ~156 rows/task — and that the expression cost
    (canonicalization + SHA-256) was irrelevant to the gap. Sizing
    the aggregation's width by data volume (min 0.40 s → 0.13 s at
    sf0.1, 0.61 s → 0.27 s at 10×) removes the overhead.

    ``None`` (volume ≥ ``cpus`` tasks' worth, or no stats) tells the
    caller NOT to coalesce and keep its default fan-out — which is a
    no-op on an already-wide scan (``fan_out``'s partition-count
    shortcut). Returning ``cpus`` and coalescing would NOT be a no-op
    at volume: ``coalesce(cpus)`` on a scan with more partitions than
    cores merges them into one giant task per core, losing dynamic
    load balancing and straggler mitigation (ADVICE r13). So the
    narrowing applies exactly where it pays — dispatch-bound small
    inputs — and vanishes, rather than inverting, as volume grows."""
    return _volume_width(sf_dir, name, cpus, _AGG_BYTES_PER_TASK)


# Per-task budget for a NARROW keyed re-shuffle (a handful of fixed-width
# columns — e.g. q10's (custkey, cents) pairs, ~16-24 B in flight per row
# of the proxy table).  A JVM sum-aggregation over such rows costs almost
# nothing per byte, so reducer-count dispatch dominates far longer than
# for the expression-heavy scan aggs _AGG_BYTES_PER_TASK was calibrated
# on (sha256 over text).  Measured on the r14 q10 audit (SCALE.md "q10
# exchange-width audit"): at the 10x sf1-equivalent the same 1.4 M-row
# custkey exchange costs 0.60 s at 32 reducers vs 0.31 s at 4.
_KEYED_AGG_BYTES_PER_TASK = 4 << 20  # ~2.7x _AGG_BYTES_PER_TASK (measured)


def keyed_agg_width(sf_dir: str, name: str, cpus: int) -> int | None:
    """Reducer count for a narrow re-keying aggregation whose input row
    count scales with table ``name`` — or ``None`` when the volume
    saturates the parallelism (keep the session default and let the
    shuffle run full-width).

    The sibling of :func:`agg_width` for aggregations fed by a SHUFFLE
    rather than a scan: the payload is a few fixed-width columns, so
    the bytes-per-task budget is ~2.7x the scan-agg one (4 MiB vs
    1.5 MiB — measured on the r14 q10 audit, not re-derived) before
    per-reducer dispatch stops dominating.  Same contract: ``None``
    means "don't touch the width" (cluster volume), small ints only
    where the input is dispatch-bound.
    """
    return _volume_width(sf_dir, name, cpus, _KEYED_AGG_BYTES_PER_TASK)


BROADCAST_CAP_BYTES = 64 << 20


def fits_broadcast(
    sf_dir: str, name: str, cap_bytes: int = BROADCAST_CAP_BYTES
) -> bool:
    """The size gate behind :func:`maybe_broadcast`, exposed for call
    sites that SWITCH SHAPE on broadcastability (e.g. q4's semi-join
    rewrite) instead of merely hinting: True iff table ``name``'s
    on-disk parquet is under ``cap_bytes``. Missing stats → False (the
    safe cluster assumption: never assume a table is small)."""
    try:
        return _file_size(sf_dir, name) < cap_bytes
    except OSError:
        return False


def maybe_broadcast(
    df: DataFrame, sf_dir: str, name: str, cap_bytes: int = BROADCAST_CAP_BYTES
) -> DataFrame:
    """Cost-based broadcast hint from REAL table statistics: hint
    broadcast iff ``name``'s on-disk parquet is under ``cap_bytes``.

    Static planning can't be trusted either way here: with a hard
    ``F.broadcast`` an SF-scaling table (customer, supplier, part)
    becomes a driver-OOM at cluster volume, and with no hint the
    planner's post-join size guesses shuffle the big intermediate
    instead of broadcasting a genuinely small side (measured: q5
    0.35→0.23 s at sf0.1). File size is ground truth: filters and
    projections at the call site only shrink the true build side
    below it, and compressed parquet understates memory by a bounded
    2-4× that ``cap_bytes`` already budgets for. The SAME call site
    broadcasts at test scale and falls back to the co-partitioned
    shuffled join at 100 TB, with no code change — the table() scans
    are hash-partitioned on their join keys exactly for that fallback.
    """
    if fits_broadcast(sf_dir, name, cap_bytes):
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


# Above this much source parquet, collecting the build side to the
# driver and building the broadcast hash relation there (serial) costs
# more than one narrow distributed exchange + merge — see
# merge_join_above. r22 (VERDICT item 6): derived from session facts
# instead of a host literal. The crossover is where the DRIVER-SERIAL
# build time stops hiding under the cluster-parallel exchange+sort it
# replaces, so it scales INVERSELY with the session's core count: the
# measured anchor is 8 MiB at 32 cores (r21 interleaved A/Bs: q18
# 1.34→0.82 s, q10 1.33→0.87 s, q3 0.99→0.69 s at the 10× dir), and
# with fewer cores the exchange side slows proportionally while the
# serial build does not, so the broadcast stays worthwhile longer. At
# cluster width (hundreds of cores) the threshold tends to zero —
# driver-serial builds never pay there, which is the memory-safe
# direction. At this sandbox's default 32 cores the value is exactly
# the measured 8 MiB anchor, so all committed plan artifacts re-diff
# byte-identical.
_MERGE_ANCHOR_BYTES = 8 << 20  # measured at _MERGE_ANCHOR_CPUS cores
_MERGE_ANCHOR_CPUS = 32


def _derived_merge_over_bcast_bytes() -> int:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(_MERGE_ANCHOR_CPUS)))
    return (_MERGE_ANCHOR_BYTES * _MERGE_ANCHOR_CPUS) // max(cpus, 1)


MERGE_OVER_BCAST_BYTES = _derived_merge_over_bcast_bytes()

# Below this much source parquet a (group, value)→count histogram's
# map-side hash aggregation cannot pay for itself before the percentile
# finisher: at sf0.1 the 600 k lineitem cents are ~99% distinct, so the
# aggregate burns a 594 k-group hash pass to save ~1% of exchange rows
# (measured r22: 1.24 s → 0.80 s skipping it). At and above the 10×
# dir, repeated values make the histogram value-space-bounded — its
# exchange carries 10×+ fewer rows than the raw stream (measured:
# raw 3.09 s vs histogram 0.69 s at 10×) and at cluster volume it is
# the ONLY shape whose finisher input stays bounded. Missing stats →
# histogram (the safe cluster assumption).
HISTOGRAM_OVER_RAW_BYTES = 32 << 20


def histogram_pays(sf_dir: str, name: str) -> bool:
    """True iff table ``name`` is big enough that the percentile
    histogram's map-side reduction beats shipping raw (group, value)
    rows to the finisher — see :data:`HISTOGRAM_OVER_RAW_BYTES`."""
    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return True
    return size >= HISTOGRAM_OVER_RAW_BYTES

# broadcast_when_counted: stop paying the count probe once the gate
# table's file alone is cluster-sized — the probe would be a real
# extra pass over a huge table, and the memory-safe fallback shape is
# the right plan there anyway. 4 GiB ≈ 64× the static broadcast cap.
COUNT_PROBE_CAP_BYTES = BROADCAST_CAP_BYTES * 64
# Row cap for a probe-approved broadcast build. r22 (VERDICT item 6):
# derived from the driver's heap instead of a host literal — the build
# is driver-serial and the built relation lives on the driver AND
# every executor, so the bound is a memory budget: ~500 k narrow rows
# per driver-GiB keeps the relation near 3% of the heap (4 M rows ×
# ~64 B built ≈ 256 MB at the default 8 GiB driver — the r21 measured
# anchor, reproduced exactly at the default config) and the serial
# build in the few-hundred-ms range (~0.5-0.8 s/M rows measured).
# Far below Spark's hard 512 M-row/8 GiB broadcast cap.
_COUNTED_ROWS_PER_DRIVER_GIB = 500_000


def _driver_mem_gib() -> float:
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g").strip().lower()
    mult = {"k": 1 / (1 << 20), "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    try:
        if raw[-1] in mult:
            return float(raw[:-1]) * mult[raw[-1]]
        return float(raw) / (1 << 30)  # plain bytes
    except (ValueError, IndexError):
        return 8.0


def _derived_counted_broadcast_max_rows() -> int:
    return max(100_000, int(_driver_mem_gib() * _COUNTED_ROWS_PER_DRIVER_GIB))


COUNTED_BROADCAST_MAX_ROWS = _derived_counted_broadcast_max_rows()
# Byte budget for the same relation (r21 ADVICE: the row gate alone
# lets a wide-columned frame through — q5's build carries n_name).
# Estimated as count × schema width (fixed-width types exact, strings
# budgeted) against the same ~3%-of-driver-heap envelope as the row
# cap.
_COUNTED_BCAST_BYTES_PER_DRIVER_GIB = 32 << 20


def _counted_broadcast_max_bytes() -> int:
    return int(_driver_mem_gib() * _COUNTED_BCAST_BYTES_PER_DRIVER_GIB)


_EST_FIELD_BYTES = {
    "long": 8, "double": 8, "integer": 4, "float": 4, "short": 2,
    "byte": 1, "boolean": 1, "date": 4, "timestamp": 8,
}


def _est_row_bytes(df: DataFrame) -> int:
    """Schema-derived per-row width estimate for a broadcast budget:
    fixed-width types exact, everything else (strings, arrays, …)
    budgeted at 24 B — deliberately rough; the gate it feeds already
    carries a 2-4× safety factor like maybe_broadcast's."""
    return sum(
        _EST_FIELD_BYTES.get(f.dataType.typeName(), 24)
        for f in df.schema.fields
    ) or 8


def broadcast_when_counted(
    df: DataFrame,
    sf_dir: str,
    name: str,
    max_rows: int = COUNTED_BROADCAST_MAX_ROWS,
    probe_cap_bytes: int = COUNT_PROBE_CAP_BYTES,
) -> DataFrame | None:
    """Runtime-statistics broadcast gate for a FILTERED build side in
    the band where static file stats say "too big": pay ONE
    column-pruned count job over ``df`` and return ``F.broadcast(df)``
    iff the actual row count fits, else ``None`` (caller keeps its
    memory-safe volume shape).

    Guide §3.1: the planner's size estimates are often badly wrong
    after filters — without CBO stats a selective date filter on a
    175 MB orders file still estimates ~file size × column ratio, so
    q4/q5-class queries sort-merge a 60 M-row fact against a build
    side that truly holds a few hundred thousand rows (measured at the
    100× sf10-equivalent: q4 2.19 s merge-semi vs 1.04 s + 0.12 s
    probe broadcast-inner; q5 4.74 s vs 1.37 s dim-chain). A measured
    count is ground truth the same way AQE's runtime stage sizes are;
    the probe is a real job inside the timed region on every
    execution — never cached across runs.

    The caller reaches this only when ``fits_broadcast`` already said
    no, so the regimes are:
    - file < ``probe_cap_bytes`` (the band): run the probe; broadcast
      on a true count ≤ ``max_rows`` AND an estimated built size
      (count × schema row width) within the driver byte budget
      (r21 ADVICE: the row gate alone would admit wide-columned
      frames).
    - file ≥ ``probe_cap_bytes`` (cluster scale): skip the probe —
      scanning a cluster-sized table just to ask is itself the cost
      the fallback shape avoids, and at that volume the filtered side
      almost never fits the driver. Return ``None``.

    Probe cost controls (r21 ADVICE):
    - ``SPARK_GRAFT_NO_COUNT_PROBE=1`` answers ``None`` without
      running any job — plan-capture tooling (plans/r*/ artifact
      scripts, explain-only callers) can stay side-effect-free while
      exercising the fallback shape. The bench never sets it.
    - When the gate table's parquet FOOTER already proves the
      unfiltered row count ≤ ``max_rows``, the filtered frame can
      only be smaller — broadcast without paying the count job
      (footer reads are metadata-only; a failed read falls through
      to the probe).
    """
    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return None
    if size >= probe_cap_bytes:
        return None
    if os.environ.get("SPARK_GRAFT_NO_COUNT_PROBE", "") == "1":
        return None
    from pyspark.sql import functions as F

    row_bytes = _est_row_bytes(df)
    byte_budget = _counted_broadcast_max_bytes()
    try:
        import pyarrow.parquet as pq

        total_rows = pq.ParquetFile(
            os.path.join(sf_dir, f"{name}.parquet")
        ).metadata.num_rows
    except Exception:
        total_rows = None
    if (
        total_rows is not None
        and total_rows <= max_rows
        and total_rows * row_bytes <= byte_budget
    ):
        return F.broadcast(df)
    # A plain count: fully parallel, column-pruned (Catalyst prunes to
    # the filter columns), one row per task over the wire. A LIMIT-ed
    # count would funnel up to max_rows per partition through a
    # single-partition exchange — strictly worse here.
    n = df.count()
    if n > max_rows or n * row_bytes > byte_budget:
        return None
    return F.broadcast(df)


def merge_join_above(
    df: DataFrame,
    sf_dir: str,
    name: str,
    threshold: int = MERGE_OVER_BCAST_BYTES,
) -> DataFrame:
    """Cost-based SORT_MERGE hint for a join whose PROBE side is already
    hash-partitioned on the join key (a preceding per-key aggregation):
    hint merge iff table ``name``'s on-disk parquet is >= ``threshold``.

    The mid-band problem (r21, measured at the 10× sf1-equivalent): the
    planner's size estimate for a pruned scan is file bytes × column
    ratio, so an orders side in the ~5-30 MB file range still estimates
    under the 10 MB auto-broadcast threshold — and a broadcast of a
    ~1.5 M-row build side pays a DRIVER-SERIAL collect + hash-relation
    build that a distributed exchange avoids. Interleaved A/B (min/med
    of 6): q18 1.34/1.50 s broadcast → 0.82/0.99 s merge, q10
    1.33/1.60 → 0.87/0.97, q3 0.99/1.17 → 0.69/0.78. Below the
    threshold (sf0.1 orders = 2.7 MB) the broadcast build is tens of
    ms and wins — the r21 join re-audit measured removing blanket merge
    hints improved exactly these queries at test scale — so the gate
    stays off and plans are unchanged there.

    Merge (not shuffle-hash) because the hinted region is unbounded
    above: sort-merge is the memory-safe strategy at any volume — at
    cluster scale the hint simply confirms what the planner's own
    estimate would pick, overriding it only in the mid-band. Apply to
    joins whose other side already carries the join-key partitioning
    (the hint then adds exactly one narrow exchange + sorts, never a
    fact-stream shuffle — q3/q10/q18), or whose probe stream is
    FILTERED well below the build side (q12: ~430 k surviving lines vs
    a 1.5 M-row orders build at 10×, merge 0.64 s vs broadcast 0.98 s;
    q9: probe pre-filtered by the part join, merge 0.73 s vs 1.03 s).
    For joins that probe a large un-keyed, un-filtered fact stream
    (q5/q7) the broadcast avoids a full fact exchange and stays the
    measured winner — keep those on the planner / maybe_broadcast.
    """
    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return df
    if size >= threshold:
        return df.hint("merge")
    return df


def gather_sort(df: DataFrame, *cols) -> DataFrame:
    """Totally-ordered final sort for a DIM-BOUNDED result (an
    aggregation output whose row count is bounded by key cardinality,
    not data volume): coalesce to one partition and sort locally.

    ``orderBy`` plans a range-partitioning Exchange whose bounds come
    from a SEPARATE sampling job — two driver round-trips to sort a few
    hundred rows (~60-100 ms per query at test scale, and at cluster
    scale still a full extra stage). A single-partition local sort is
    the gather-merge every engine uses for small ordered results; the
    coalesce is narrow (no shuffle). Only apply when the input is
    provably small — for volume-sized outputs keep ``orderBy`` so the
    sort distributes."""
    return df.coalesce(1).sortWithinPartitions(*cols)


# AQE pays once each core chews this many bytes per stage — the regime
# where stages run multiple seconds and one saved skew/shuffle re-plan
# dwarfs the per-stage materialization + driver round-trip cost.
# Calibrated r21 from the two nearest measured anchors: at the 10×
# sf1-equivalent (4.3 MiB/core) AQE costs 15-40% per query (r6, re-
# confirmed r21); at the 100× sf10-equivalent (43 MiB/core) AQE-on
# wins the 13-query suite 27.05 s vs 29.54 s (−8%, min-of-3
# interleaved; q10 −35% from runtime coalescing of its 9 M-row
# narrow exchanges). 16 MiB/core is the geometric midpoint of the
# two anchors; both measured regimes keep their winning setting.
_AQE_BYTES_PER_CORE = 16 << 20


def runtime_replan_worth_it(sf_dir: str, cpus: int) -> bool:
    """Cost-based AQE switch: adaptive execution materializes every
    shuffle stage and round-trips the driver (~20-50 ms each) before
    re-planning — pure overhead while stages are sub-second. Measured
    at sf0.1 the 19-query bench drops ~15-20% wall with AQE off, and
    at a 10× sf1-equivalent (140 MB lineitem, 32 cores) AQE STILL
    costs 15-40% (q7 0.583 s off vs 0.829 s on, q5 0.771 vs 0.866,
    q9 0.671 vs 0.814 — r6 measurement), so partition-count
    saturation is the wrong trigger: the switch is PER-CORE VOLUME.
    Once each core's share of the largest table reaches hundreds of
    MiB — multi-second stages, the cluster-scale regime — runtime
    re-planning (skew-join splitting, partition coalescing, broadcast
    conversion) pays for itself many times over and must be on; when
    the volume is unknown, default on (the safe cluster assumption).
    """
    try:
        size = _file_size(sf_dir, "lineitem")
    except OSError:
        return True
    return size >= cpus * _AQE_BYTES_PER_CORE


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (declarative scan → Catalyst
    gets column pruning + predicate pushdown into the file scan).

    The ``events`` table has shipped with two physical types for ``ts``
    across sandbox generations: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader surfaces as raw ``bigint`` nanos under the legacy
    conf) and native TIMESTAMP(MICROS) (which Spark 4 infers as
    TIMESTAMP_NTZ when isAdjustedToUTC=false).  Branch on the dtype
    actually loaded: ``bigint`` → integer-divide nanos to microseconds
    (the same truncation DuckDB applies); ``timestamp_ntz`` → cast to
    TIMESTAMP, value-preserving under the engine's fixed UTC session
    timezone and required because downstream consumers (``unix_micros``,
    streaming watermarks) reject NTZ; ``timestamp`` → use as-is.  Every
    branch lands on the same TIMESTAMP µs values DuckDB surfaces.
    """
    key = (_session_key(spark), os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # NTZ→TIMESTAMP reinterprets the wall-clock value in the
            # session timezone; that is value-preserving ONLY under UTC
            # (engine.get_spark pins it). A caller-built non-UTC session
            # would silently shift every event timestamp — fail loudly.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
                raise ValueError(
                    f"events.ts is TIMESTAMP_NTZ and the session timezone "
                    f"is {tz!r}; the NTZ→TIMESTAMP cast is only "
                    "value-preserving under UTC. Use engine.get_spark() "
                    "or set spark.sql.session.timeZone=UTC."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    part_key = _TABLE_KEYS.get(name)
    if part_key is not None:
        from ..operators.util import fan_out

        # Fan out once, AT THE SCAN, for the CPU-bound corpora only
        # (see _TABLE_KEYS): every downstream fan_out on the same key
        # then no-ops. Relational tables return the raw scan — joins
        # insert exactly the exchanges they need, aggregations keep
        # their map-side partial agg before the first shuffle, and at
        # volume the parquet splits wide by itself (r21; measured
        # numbers at _TABLE_KEYS).
        df = fan_out(df, key=part_key, force_layout=True)
    _insert_cache_row(_TABLE_CACHE, key, df)
    return df


def table_keyed(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """A SECONDARY keyed layout of ``name``: hash-partitioned and
    partition-sorted on ``key`` instead of the table's primary join key.

    This is the multi-layout bucketing real warehouses use (a second
    bucketed projection / sort order of the same table): a query whose
    join or aggregation key differs from the primary layout (q13 needs
    orders BY CUSTKEY; the primary orders layout is by orderkey for the
    lineitem joins) reads this layout; partition count comes from the
    same volume formula, so joins against other keyed tables stay
    co-partitioned. At cluster scale this corresponds to maintaining
    the table bucketed by both keys on storage.

    r21 measurement fix: the returned frame is a PLAN only — earlier
    rounds ``.cache()``d it (and the bench pre-warmed it), so q13's
    timed runs read a persisted intermediate instead of computing from
    parquet. Under the optimization-round ground rules that is result
    caching; the plan-level memo below is kept (a prepared statement,
    no data), the data materialization is gone — every execution pays
    its own scan + repartition.
    """
    ckey = (_session_key(spark), os.path.abspath(sf_dir), f"{name}@{key}")
    cached = _TABLE_CACHE.get(ckey)
    if cached is not None:
        return cached
    df = (
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        .repartition(_keyed_parts(spark, sf_dir), key)
        .sortWithinPartitions(key)
    )
    _insert_cache_row(_TABLE_CACHE, ckey, df)
    return df
