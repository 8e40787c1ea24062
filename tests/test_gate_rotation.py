"""The driver's correctness gate checks the FIRST 50 registry entries;
``registry()`` must (a) rotate the unverified frontier into that window
each round by reading the recorded CORRECTNESS_r*.json files, and
(b) once the frontier is empty, cycle verified entries through the gate
least-recently-verified first so old verifications keep getting
re-checked by the driver.

All CORRECTNESS state is synthesized under a tmp repo root
(``_repo_root`` monkeypatch): the real repo now has every entry
driver-verified, so tests that relied on a live unverified frontier
would otherwise vacuously fail/pass depending on driver history.
"""

from __future__ import annotations

import json

import pytest

from duckdb_redis_olap_scanner_spark.plans import catalog


def _green(names):
    return {
        n: {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": None,
        }
        for n in names
    }


def test_frontier_orders_before_verified():
    names = list(catalog.registry())
    prior = catalog._prior_verified()
    frontier = [n for n in names if n not in prior]
    # Every frontier entry precedes every prior-verified entry.
    assert names[: len(frontier)] == frontier


def test_rotation_advances_with_new_correctness_file(tmp_path, monkeypatch):
    # Point at an EMPTY repo root first: only the baseline set counts as
    # verified, so a synthetic frontier exists even when the real repo
    # has every entry driver-verified.
    monkeypatch.setattr(catalog, "_repo_root", lambda: str(tmp_path))
    baseline = catalog._prior_verified()
    names = list(catalog.registry())
    frontier = [n for n in names if n not in baseline]
    assert frontier, "baseline covers the whole registry?"
    newly = frontier[:3]
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(_green(newly)))
    rotated = list(catalog.registry())
    head = rotated[: len(frontier) - len(newly)]
    assert not set(newly) & set(head)  # newly-verified left the frontier
    assert set(newly) < set(rotated)  # but are still registered


def test_errored_rows_do_not_count_as_verified(tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_repo_root", lambda: str(tmp_path))
    baseline = catalog._prior_verified()
    frontier = [n for n in catalog.registry() if n not in baseline]
    victim = frontier[0]
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps(
            {victim: {"rows_match": True, "hash_match": True, "err": "boom"}}
        )
    )
    assert victim not in catalog._prior_verified()


def test_verified_entries_cycle_least_recently_verified_first(
    tmp_path, monkeypatch
):
    """With the frontier empty, an entry whose newest green row is r2
    must sort before one re-verified in r98 — so the 50-entry gate
    window sweeps all verified entries across rounds."""
    monkeypatch.setattr(catalog, "_repo_root", lambda: str(tmp_path))
    all_names = list(catalog.registry())
    old, recent = all_names[0], all_names[1]
    # Verify the whole registry in r2, then re-verify everything except
    # `old` in r98: `old` becomes the least-recently-verified entry.
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(_green(all_names)))
    (tmp_path / "CORRECTNESS_r98.json").write_text(
        json.dumps(_green(n for n in all_names if n != old))
    )
    rotated = list(catalog.registry())
    assert not [n for n in rotated if n not in catalog._prior_verified()]
    assert rotated[0] == old  # oldest verification leads the gate window
    assert rotated.index(old) < rotated.index(recent)


def test_gate_window_covers_everything_within_three_rounds(
    tmp_path, monkeypatch
):
    """Simulate the driver loop: each round verifies the first 50
    registry entries. Starting from everything-verified-in-r2, every
    entry must re-enter the window within ceil(N/50) rounds."""
    monkeypatch.setattr(catalog, "_repo_root", lambda: str(tmp_path))
    all_names = list(catalog.registry())
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(_green(all_names)))
    seen: set[str] = set()
    rounds_needed = -(-len(all_names) // 50)
    for r in range(3, 3 + rounds_needed):
        window = list(catalog.registry())[:50]
        seen.update(window)
        (tmp_path / f"CORRECTNESS_r{r:02d}.json").write_text(
            json.dumps(_green(window))
        )
    assert seen == set(all_names)


def test_real_repo_r7_gate_window_is_lru():
    """Pin the ACTUAL repo state for the round-7 gate (no synthetic
    CORRECTNESS files): the window must open with the round-7 frontier
    (never-driver-verified new entries), followed immediately by the
    least-recently-verified entries — the r1/r2-era redis/baseline
    entries such as redis_scan_golden — with the r6-verified entries
    at the very back."""
    rounds = catalog._verified_rounds()
    names = list(catalog.registry())
    frontier = [n for n in names if n not in rounds]
    r7_new = {
        "multimodal_decode_bmp",
        "multimodal_decode_ppm",
        "multimodal_decode_wav",
        "pipeline_tokenize_ids",
        "text_pii_scrub_full",
    }
    latest = max(rounds.values())
    if latest <= 6:
        # Pre-r7-gate state: the round-7 additions ARE the frontier
        # and lead the window.
        assert set(frontier) >= r7_new
        assert names[: len(frontier)] == frontier
    else:
        # The r7 (or later) gate already ran: the new entries must
        # have been verified by it, not still be pending.
        assert not (r7_new & set(frontier))
    # The verified tail is ordered: changed-since-verified entries
    # first (newest change first), then the clean LRU cohort sorted by
    # (last-verified round, registration position).
    dirty = catalog._changed_since_verified(rounds)
    tail = names[len(frontier):]
    n_dirty = len([n for n in tail if n in dirty])
    assert [n for n in tail[:n_dirty] if n not in dirty] == []
    dirty_changes = [dirty[n] for n in tail[:n_dirty]]
    assert dirty_changes == sorted(dirty_changes, reverse=True)
    clean_rounds = [rounds[n] for n in tail[n_dirty:]]
    assert clean_rounds == sorted(clean_rounds)
    # LRU property of the driver window: among CLEAN entries, every one
    # inside the 50-entry window is at most as recently verified as
    # every one outside it — and with ≥100 older-than-newest entries
    # the window never wastes a slot on the newest round.
    window = names[:50]
    in_rounds = [rounds[n] for n in window if n in rounds and n not in dirty]
    out_rounds = [rounds[n] for n in names[50:] if n in rounds and n not in dirty]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds)
    if latest <= 6:
        # Concretely for the r7 gate: the window's verified slots are
        # the r1/r2 era (redis_scan_golden among them), strictly
        # older than anything r6 touched.
        assert "redis_scan_golden" in window
        assert all(r < latest for r in in_rounds)


def test_changed_since_verified_bumps_entry_to_window_front(monkeypatch):
    """A verified entry flagged changed-since-verified must lead the
    verified tail of the gate window (synthetic dirty set — the real
    git-based detection is exercised by the real-repo tests below)."""
    names = list(catalog.registry())
    rounds = catalog._verified_rounds()
    verified = [n for n in names if n in rounds]
    if not verified:
        return
    victim = verified[-1]  # most-recently-verified: last under pure LRU
    monkeypatch.setattr(
        catalog, "_changed_since_verified", lambda r: {victim: 99}
    )
    rotated = list(catalog.registry())
    frontier = [n for n in rotated if n not in rounds]
    assert rotated[len(frontier)] == victim


def test_referenced_callables_cross_module_alias():
    """The dirty-closure walk must reach helpers called through a
    module alias (``D.segment_dedup``), not just direct imports —
    otherwise an operator-module fix never dirties its plan entries."""
    reg = catalog.registry()
    e = reg["pipeline_segment_dedup"]
    fns = catalog._referenced_pkg_callables(e.raw_fn)
    quals = {f.__qualname__ for f in fns}
    assert "segment_dedup" in quals  # lives in operators/dedup.py
    assert any(q == "table" for q in quals)  # catalog helper


def test_referenced_callables_reach_datasource_classes():
    """String-format sources (``spark.read.format('redis_zset')``) are
    invisible to bytecode name loads; the walk must reach the reader
    classes through Engine -> register_datasources -> ALL_DATASOURCES,
    or a reader fix never dirties its golden entries."""
    reg = catalog.registry()
    e = reg["redis_zset_golden"]
    fns = catalog._referenced_pkg_callables(e.raw_fn)
    quals = {f.__qualname__ for f in fns}
    assert "RedisZSetReader.read" in quals
    assert "Engine" in quals  # the class itself (getsource covers it)


def test_referenced_callables_reach_inherited_methods():
    """A reader or writer whose loop lives on a package base class:
    the walk follows the base, so an edit to the shared loop dirties
    every entry that runs through it."""
    reg = catalog.registry()
    for name, want in [
        ("redis_kv_golden", {"_ScanReader.read", "RedisKVReader._batch",
                             "_PipelinedWriter.write"}),
        ("redis_zset_golden", {"_PagedReader._read_pages"}),
    ]:
        quals = {f.__qualname__
                 for f in catalog._referenced_pkg_callables(reg[name].raw_fn)}
        assert want <= quals, (name, want - quals)


def test_round_commits_and_blob_real_repo():
    root = catalog._repo_root()
    commits = catalog._round_commits(root)
    if not commits:  # git history unavailable — nothing to pin
        return
    assert all(len(sha) == 40 for sha in commits.values())
    assert min(commits) >= 1
    # A blob fetch for a file that exists at that commit returns text.
    blob = catalog._git_blob(
        root, commits[min(commits)], "SURVEY.md"
    )
    assert blob is None or "operator" in blob.lower()


def test_real_repo_dirty_entries_are_verified_and_lead_tail():
    """State-robust pin of the changed-since-verified tier on the live
    repo: every dirty entry must already be driver-verified (frontier
    entries never need the tier), and the verified tail must open with
    exactly the dirty cohort."""
    names = list(catalog.registry())
    rounds = catalog._verified_rounds()
    dirty = catalog._changed_since_verified(rounds)
    assert set(dirty) <= set(rounds)
    frontier = [n for n in names if n not in rounds]
    tail = names[len(frontier):]
    assert set(tail[: len(set(dirty) & set(tail))]) <= set(dirty) | set()
    # every dirty entry sits before every clean verified entry
    if dirty:
        last_dirty = max(i for i, n in enumerate(tail) if n in dirty)
        assert all(n in dirty for n in tail[: last_dirty + 1])


def test_referenced_callables_reach_local_imports():
    """Function-LOCAL imports (``from .catalog import keyed_agg_width``
    inside a plan body) never bind in ``__globals__``; before r15 the
    walker missed them entirely, so editing a locally-imported helper
    dirtied nothing — q10 could run un-re-gated keyed_agg_width code.
    Pin the bytecode-based recovery on the three width helpers and on
    a locally-imported module alias."""
    reg = catalog.registry()
    quals = {f.__qualname__ for f in
             catalog._referenced_pkg_callables(reg["q10_returned_items"].raw_fn)}
    assert "keyed_agg_width" in quals
    quals = {f.__qualname__ for f in
             catalog._referenced_pkg_callables(reg["dedup_exact"].raw_fn)}
    assert "agg_width" in quals
    quals = {f.__qualname__ for f in
             catalog._referenced_pkg_callables(reg["ann_cosine_topk"].raw_fn)}
    assert "scorer_width" in quals
    # entries NOT calling the helpers must stay clean of them
    quals = {f.__qualname__ for f in
             catalog._referenced_pkg_callables(reg["q6_forecast_revenue"].raw_fn)}
    assert "keyed_agg_width" not in quals


def test_referenced_callables_reach_codec_modules():
    """The codec modules (flac/vp8l/jpeg) are imported at MODULE scope
    in multimodal.py; the walk sees them there (and since r15 would
    also recover a lazy in-function ``from .flac import ...`` from the
    bytecode), so codec edits reach the changed-since-verified tier."""
    reg = catalog.registry()
    fn = reg["multimodal_decode_flac"].fn
    mods = {getattr(o, "__module__", "") for o in
            catalog._referenced_pkg_callables(fn)}
    for needle in ("operators.flac", "operators.vp8l", "operators.jpeg"):
        assert any(m.endswith(needle) for m in mods), needle


def test_dirty_ties_break_least_recently_verified_first(monkeypatch):
    """Within one change round, dirty entries order oldest-verified
    first — the tie-break the r12 drain relied on: a wide helper
    edit (r10's fan_out change dirtied ~124 entries at change round
    10) must present the STALEST entries to the gate first, so the
    verification backlog drains oldest-first instead of arbitrarily."""
    rounds = catalog._verified_rounds()
    by_round = {}
    for n, r in rounds.items():
        if n in catalog._REGISTRY:
            by_round.setdefault(r, n)
    if len(by_round) < 2:
        pytest.skip(
            "needs two distinct verified rounds to pin the tie-break "
            "(fresh checkout with a flat VERIFIED history)"
        )
    oldest, newest = min(by_round), max(by_round)
    pair = {by_round[newest]: 7, by_round[oldest]: 7}  # same change round
    monkeypatch.setattr(
        catalog, "_changed_since_verified", lambda r: dict(pair)
    )
    rotated = list(catalog.registry())
    frontier = len([n for n in rotated if n not in rounds])
    head = rotated[frontier : frontier + 2]
    assert head == [by_round[oldest], by_round[newest]]


def test_referenced_callables_import_unloaded_modules(monkeypatch):
    """A module referenced ONLY from entry bodies (ann_index is
    imported nowhere at module scope) must still reach the dirty walk
    in a fresh process where no entry has executed yet — the walker
    imports package-prefixed candidates instead of requiring them in
    sys.modules (r15 review). The package ATTRIBUTE is removed too:
    other tests import ann_index at collection time, and the leftover
    attribute would let the pre-existing getattr path resolve it,
    making this pin vacuous (r15 review pass 2). The fresh import the
    walker performs re-binds both, so no diverged module copies
    outlive the test."""
    import sys

    from duckdb_redis_olap_scanner_spark import operators as ops_pkg

    reg = catalog.registry()
    modname = "duckdb_redis_olap_scanner_spark.operators.ann_index"
    sys.modules.pop(modname, None)
    monkeypatch.delattr(ops_pkg, "ann_index", raising=False)
    catalog._IMPORT_MISSES.discard(modname)
    catalog._IMPORT_TRANSIENT.discard(modname)
    try:
        quals = {f.__qualname__ for f in catalog._referenced_pkg_callables(
            reg["pipeline_incremental_ann_indexed"].raw_fn)}
        assert "ann_indexed_topk" in quals
        assert "write_ivf_index" in quals
        # The walker's own import re-populated sys.modules.
        assert modname in sys.modules
    finally:
        # Undo monkeypatch's attr restore racing the fresh import:
        # keep ONE live copy (the fresh one) bound consistently.
        monkeypatch.undo()
        sys.modules[modname] = getattr(ops_pkg, "ann_index",
                                       sys.modules.get(modname))


def test_referenced_callables_dotted_alias_import():
    """``import pkg.mod as X`` inside a body compiles to IMPORT_NAME
    pkg.mod + IMPORT_FROM per trailing component; the walker must
    surface the LEAF module so X.attr uses resolve (r15 review)."""
    def probe(df):
        import duckdb_redis_olap_scanner_spark.operators.dedup as X
        return X.segment_dedup(df)

    quals = {f.__qualname__
             for f in catalog._referenced_pkg_callables(probe)}
    assert "segment_dedup" in quals


def test_referenced_callables_all_import_forms():
    """One probe per import form the bytecode recovery must handle:
    the walker's contract is 'editing a helper dirties exactly its
    callers', so every form must surface the called helper — and the
    from-import form must NOT drag in module members the body never
    names (precision: over-wide closures manufacture false dirt)."""

    def via_from_attr(df):
        from duckdb_redis_olap_scanner_spark.operators.dedup import (
            exact_dedup,
        )
        return exact_dedup(df)

    def via_from_module(df):
        from duckdb_redis_olap_scanner_spark.operators import dedup as D
        return D.segment_dedup(df)

    def via_plain_dotted(df):
        import duckdb_redis_olap_scanner_spark.operators.dedup
        return duckdb_redis_olap_scanner_spark.operators.dedup.exact_dedup(df)

    def via_nested_scope(df):
        def inner():
            from duckdb_redis_olap_scanner_spark.operators.dedup import (
                simhash_signatures,
            )
            return simhash_signatures(df)
        return inner()

    def quals(fn):
        return {f.__qualname__
                for f in catalog._referenced_pkg_callables(fn)}

    assert "exact_dedup" in quals(via_from_attr)
    # precision: the module's OTHER members stay out of the closure
    assert "segment_dedup" not in quals(via_from_attr)
    assert "segment_dedup" in quals(via_from_module)
    assert "exact_dedup" in quals(via_plain_dotted)
    assert "simhash_signatures" in quals(via_nested_scope)


def test_referenced_callables_relative_import_falls_through():
    """ADVICE r16: the bytecode drops the relative-import LEVEL, so
    ``from .. import testing`` inside a plans/ module first resolves
    the candidate ``...plans`` — which has no ``testing`` attr. The
    walker must fall through to the next candidate (the top package,
    where the submodule really lives) instead of dropping the import
    pair; first-match-wins silently re-opened the missed-local-import
    hole for exactly this form. The probe is a synthetic module so the
    test controls __package__ without adding a package file; the
    walker only reads bytecode, never runs the body."""
    import sys
    import types

    src = (
        "def probe(df):\n"
        "    from .. import testing\n"
        "    return testing.FakeRedisServer\n"
    )
    name = "duckdb_redis_olap_scanner_spark.plans._synthetic_probe"
    m = types.ModuleType(name)
    m.__package__ = "duckdb_redis_olap_scanner_spark.plans"
    sys.modules[name] = m
    try:
        exec(compile(src, "<synthetic_probe>", "exec"), m.__dict__)
        quals = {f.__qualname__ for f in
                 catalog._referenced_pkg_callables(m.__dict__["probe"])}
        assert "FakeRedisServer" in quals, quals
    finally:
        del sys.modules[name]
