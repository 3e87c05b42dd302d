"""Gate-window rotation (round-4 redesign): the committed
``plans/gate_state.json`` snapshot drives registry order; the snapshot
tool ranks code-churned / forced / never-green queries first so they
reach the driver's 50-entry correctness window."""

from __future__ import annotations

import json

from data_integration_openfoodfacts_spark.plans import registry
from tools import gate_state


def _records(green_by_round):
    return {
        rnd: {k: {"hash_match": True} for k in keys}
        for rnd, keys in green_by_round.items()
    }


def _fps(keys):
    return {k: f"fp-{k}" for k in keys}


def _verified(keys, fps):
    return {k: {"fingerprint": fps[k]} for k in keys}


ALL = sorted(registry._ALL_QUERIES)


def test_never_verified_come_first():
    fps = _fps(ALL)
    green = ALL[:40]
    order = gate_state.compute_order(
        fps, _verified(green, fps), _records({2: green}), set()
    )
    unverified = [k for k in order if k not in set(green)]
    assert order[: len(unverified)] == unverified


def test_red_record_resets_to_front():
    fps = _fps(ALL)
    records = _records({2: ALL})
    records[3] = {ALL[10]: {"hash_match": False}}
    order = gate_state.compute_order(
        fps, _verified(ALL, fps), records, set()
    )
    assert order[0] == ALL[10]


def test_older_rounds_rotate_before_newer():
    fps = _fps(ALL)
    old, new = ALL[: len(ALL) // 2], ALL[len(ALL) // 2 :]
    order = gate_state.compute_order(
        fps, _verified(ALL, fps), _records({2: old, 3: new}), set()
    )
    pos = {k: i for i, k in enumerate(order)}
    assert max(pos[k] for k in old) < min(pos[k] for k in new)


def test_fingerprint_drift_forces_regate():
    """The r03 stale-green scenario: a query green in an old round whose
    implementing code changed afterward must outrank ALL intact greens —
    even newer ones."""
    fps = _fps(ALL)
    verified = _verified(ALL, fps)
    drifted = ALL[-1]
    verified[drifted] = {"fingerprint": "stale-hash"}
    order = gate_state.compute_order(
        fps, verified, _records({2: ALL[:40], 3: ALL[40:]}), set()
    )
    assert order[0] == drifted


def test_force_gate_overrides_green_record():
    fps = _fps(ALL)
    target = ALL[-1]
    order = gate_state.compute_order(
        fps, _verified(ALL, fps), _records({2: ALL}), {target}
    )
    assert order[0] == target


def test_module_closure_catches_operator_refactor():
    """plans/llm_queries.py queries must fingerprint over
    operators/similarity_dedup.py (transitively) — the exact file whose
    refactor the r03 VERDICT flagged as invisible to age-only rotation."""
    f = gate_state.PKG_ROOT / "plans" / "llm_queries.py"
    closure = {p.name for p in gate_state.module_closure(f)}
    assert "similarity_dedup.py" in closure
    assert "similarity.py" in closure
    assert "vectors.py" in closure  # function-local import resolved too


def test_fingerprint_changes_with_oracle_text():
    fn = registry.QUERIES["q148_corpus_curation_pipeline"]
    assert gate_state.query_fingerprint(fn, "SELECT 1") != (
        gate_state.query_fingerprint(fn, "SELECT 2")
    )


def test_fingerprint_ignores_where_the_checkout_sits(monkeypatch):
    """The q89-q94 oracles read the fixture TSV by absolute path; a
    second checkout of the same commit must fingerprint them alike."""
    root = str(gate_state.REPO)
    key = next(k for k, sql in registry.ORACLES.items() if root in sql)
    fn, oracle = registry.QUERIES[key], registry.ORACLES[key]
    here = gate_state.query_fingerprint(fn, oracle)
    monkeypatch.setattr(gate_state, "REPO", gate_state.REPO.with_name("x"))
    moved = oracle.replace(root, str(gate_state.REPO))
    assert gate_state.query_fingerprint(fn, moved) == here


def test_registry_reads_committed_snapshot():
    """Live order == committed snapshot order (new keys, if any, first).
    Reproducible from the committed tree alone — no CORRECTNESS globbing
    at import time (r03 ADVICE)."""
    snap = json.loads(gate_state.STATE_PATH.read_text())["order"]
    known = [k for k in snap if k in registry._ALL_QUERIES]
    new = [k for k in registry.QUERIES if k not in set(snap)]
    assert list(registry.QUERIES) == new + known
    assert set(registry.QUERIES) == set(registry._ALL_QUERIES)
    assert set(registry.ORACLES) == set(registry._ALL_ORACLES)


def test_new_queries_enter_window_first():
    """A query added after the snapshot was generated sorts ahead of
    every snapshotted key, so it cannot miss the 50-entry gate."""
    order = registry._gate_order()
    snap = set(json.loads(gate_state.STATE_PATH.read_text())["order"])
    seen_snapshotted = False
    for k in order:
        if k in snap:
            seen_snapshotted = True
        else:
            assert not seen_snapshotted, f"new key {k} after snapshotted keys"


def test_all_tier0_queries_inside_window():
    """Every genuinely-churned query (code-drifted, unverified, or
    driver-red) must sit inside the first 50 registry entries; every
    local-green query awaiting its first driver gate (tier 0.5) must
    sort ahead of all already-driver-green queries."""
    from data_integration_openfoodfacts_spark.plans.registry import (
        _FORCE_GATE,
    )

    fps = gate_state.current_fingerprints()
    state = gate_state.load_state()
    records = gate_state.load_driver_records()
    tiers = gate_state.compute_tiers(
        fps, state.get("verified", {}), records, _FORCE_GATE
    )
    tier0 = [k for k in registry._ALL_QUERIES if tiers[k] == 0]
    order = list(registry.QUERIES)
    window = set(order[:50])
    if len(tier0) <= 50:
        for q in tier0:
            assert q in window, q
    else:
        # More churned queries than one round's window holds: the best
        # any ordering can do is spend EVERY window slot on a tier-0
        # query; the leftovers rotate in next round.
        for q in window:
            assert tiers[q] == 0, f"window slot wasted on non-tier0 {q}"
    # tier 0.5 (never driver-gated, locally verified at HEAD) queues
    # directly behind tier 0 — ahead of every driver-green query
    pos = {k: i for i, k in enumerate(order)}
    half = [k for k in registry._ALL_QUERIES if tiers[k] == 0.5]
    greens = [k for k in registry._ALL_QUERIES if tiers[k] >= 1]
    if half and greens:
        assert max(pos[k] for k in half) < min(pos[k] for k in greens)


def test_gate_state_verified_matches_head_fingerprints():
    """Every registry query must be locally verified at its CURRENT
    fingerprint.  This is the end-of-round protocol invariant: a code
    commit after the last ``check_oracle --record`` re-fingerprints the
    edited import closure and strands the committed record (round-5
    judge finding).  If this fails, run:

        python tools/check_oracle.py --record /root/testdata/sf0.01
        python tools/update_gate_state.py

    and commit ``plans/gate_state.json``.
    """
    fps = gate_state.current_fingerprints()
    verified = gate_state.load_state().get("verified", {})
    stale = sorted(
        k
        for k in registry._ALL_QUERIES
        if verified.get(k, {}).get("fingerprint") != fps.get(k)
    )
    assert not stale, (
        f"{len(stale)} queries not verified at HEAD fingerprints "
        f"(first 10: {stale[:10]}) — re-run the end-of-round protocol"
    )


def test_local_green_new_query_queues_behind_churn_ahead_of_greens():
    """New-query burst (never driver-gated) with local verification:
    churned queries keep the front of the window; the burst sorts
    next; driver-green queries rotate after."""
    fps = _fps(ALL)
    greens = ALL[10:]            # driver-green at round 2
    burst = ALL[:6]              # new: no driver record
    churned = ALL[6:10]          # driver-green but code drifted
    verified = _verified(ALL, fps)
    for k in churned:
        verified[k] = {"fingerprint": "stale"}
    order = gate_state.compute_order(
        fps, verified, _records({2: greens + churned}), set()
    )
    pos = {k: i for i, k in enumerate(order)}
    assert max(pos[k] for k in churned) < min(pos[k] for k in burst)
    assert max(pos[k] for k in burst) < min(
        pos[k] for k in ALL[10:]
    )


def test_stale_keys_are_per_scale_factor():
    """A green record at sf0.01 must NOT satisfy a stale check at
    sf0.1 (round-6 review finding: --stale silently no-opped at other
    scale factors)."""
    fps = {"qA": "f1", "qB": "f2", "qC": "f3"}
    verified = {
        "qA": {"fingerprint": "f1", "sfs": {"sf0.01": "f1"}},
        "qB": {"fingerprint": "f2", "sfs": {"sf0.01": "f2"}},
        "qC": {"fingerprint": "OLD", "sfs": {"sf0.1": "OLD"}},  # drifted
    }
    assert gate_state.stale_keys(fps, verified, "sf0.01") == {"qC"}
    # at sf0.1 nothing but qC's old record exists -> all stale
    assert gate_state.stale_keys(fps, verified, "sf0.1") == {
        "qA", "qB", "qC",
    }
    assert gate_state.stale_keys(fps, {}, "sf0.01") == {"qA", "qB", "qC"}


def test_stale_keys_ignore_how_the_sf_dir_is_spelled(tmp_path, monkeypatch):
    """The record keys a scale factor by its directory name, so a
    trailing slash, a relative path or another parent directory names
    the same scale factor."""
    fps = {"qA": "f1", "qB": "f2"}
    verified = {
        "qA": {"fingerprint": "f1", "sfs": {"sf0.01": "f1"}},
        "qB": {"fingerprint": "OLD", "sfs": {"sf0.01": "OLD"}},
    }
    (tmp_path / "data" / "sf0.01").mkdir(parents=True)
    monkeypatch.chdir(tmp_path)
    spellings = (
        str(tmp_path / "data" / "sf0.01"),
        str(tmp_path / "data" / "sf0.01") + "/",
        "data/sf0.01",
        "./data/sf0.01/",
        "/elsewhere/sf0.01",
    )
    for sf_dir in spellings:
        assert gate_state.stale_keys(fps, verified, sf_dir) == {"qB"}, sf_dir
