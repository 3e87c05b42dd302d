"""Bench-harness regression gate: baseline timing lookup.

VERDICT r03 item 5 — the bench self-compares each query so a 2x drift
surfaces in-round. Since round 11 the baseline is the per-query MEDIAN
over the newest (up to) three committed same-sf records (r12 recorded
a lucky-low q116 and the next normal run false-flagged against it).
These tests pin the lookup rules: median-of-newest-3 per query, the
latest round number reported, other-sf and unparsed records ignored,
absence degrades to (None, {}). The only source is the committed
``plans/bench_history/rNN.json`` records.
"""

from __future__ import annotations

import json

import bench


def _hist_dir(tmp_path):
    d = tmp_path / "data_integration_openfoodfacts_spark" / "plans" / "bench_history"
    d.mkdir(parents=True, exist_ok=True)
    return d


def _write_hist(tmp_path, n, payload):
    (_hist_dir(tmp_path) / f"r{n:02d}.json").write_text(json.dumps(payload))


def test_median_of_newest_records_per_query(tmp_path):
    _write_hist(tmp_path, 2, {"sf": 0.1, "queries": {"q1": 1.0, "q2": 0.1}})
    _write_hist(tmp_path, 3, {"sf": 0.1, "queries": {"q1": 2.0}})
    n, q = bench.load_prev_timings(str(tmp_path), 0.1)
    assert n == 3  # the latest round still names the comparison
    # q1: median(2.0, 1.0) = 1.5; q2 appears only in r2
    assert q == {"q1": 1.5, "q2": 0.1}


def test_median_window_is_three_newest(tmp_path):
    for i, v in enumerate([9.0, 1.0, 2.0, 30.0], start=1):
        _write_hist(tmp_path, i, {"sf": 0.1, "queries": {"q1": v}})
    n, q = bench.load_prev_timings(str(tmp_path), 0.1)
    # r1's 9.0 falls outside the window; median(1.0, 2.0, 30.0) = 2.0
    # — one lucky OR unlucky record cannot move the baseline
    assert (n, q) == (4, {"q1": 2.0})


def test_other_sf_and_unparsed_records_ignored(tmp_path):
    _write_hist(tmp_path, 2, {"sf": 0.1, "queries": {"q1": 1.0}})
    _write_hist(tmp_path, 4, {"sf": 0.01, "queries": {"q1": 9.0}})
    _write_hist(tmp_path, 5, {"sf": 0.1})  # no per-query map
    # driver BENCH_r*.json records are not a baseline source
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"parsed": {"sf": 0.1, "queries": {"q1": 5.0}}})
    )
    n, q = bench.load_prev_timings(str(tmp_path), 0.1)
    assert n == 2
    assert q == {"q1": 1.0}


def test_no_records_degrades_to_none(tmp_path):
    n, q = bench.load_prev_timings(str(tmp_path), 0.1)
    assert n is None
    assert q == {}


def test_corrupt_json_is_skipped(tmp_path):
    (_hist_dir(tmp_path) / "r07.json").write_text("{not json")
    _write_hist(tmp_path, 6, {"sf": 0.1, "queries": {"q3": 0.5}})
    n, q = bench.load_prev_timings(str(tmp_path), 0.1)
    assert n == 6
    assert q == {"q3": 0.5}


def test_regression_rule_matches_bench_thresholds():
    # Mirrors the flag expression in bench.main(): >2x AND >0.5s abs.
    prev = {"q1": 1.0, "q2": 0.1, "q3": 2.0}
    cur = {"q1": 2.6, "q2": 0.35, "q3": 3.9, "q4": 1.0}
    regressions = {
        q: [prev[q], c]
        for q, c in cur.items()
        if q in prev and c > 2 * prev[q] and c - prev[q] > 0.5
    }
    # q1: 2.6x and +1.6s -> flagged; q2: 3.5x but only +0.25s -> jitter;
    # q3: <2x -> fine; q4: no prior -> no comparison.
    assert regressions == {"q1": [1.0, 2.6]}


def test_bench_history_other_sf_ignored(tmp_path):
    _write_hist(tmp_path, 7, {"sf": 0.01, "queries": {"q1": 3.0}})
    assert bench.load_prev_timings(str(tmp_path), 0.1) == (None, {})


def test_anchor_is_min_over_window(tmp_path):
    """Round-12 (VERDICT r11 #1): the anchor is the per-query MIN over
    the newest ANCHOR_WINDOW committed same-sf records — the baseline
    a monotone creep cannot drag along the way it drags the adjacent
    median-of-3."""
    for i, v in enumerate([9.0, 3.0, 5.0, 4.0, 6.0, 7.0], start=1):
        _write_hist(tmp_path, i, {"sf": 0.1, "queries": {"q1": v}})
    # window of 5 newest = r2..r6 -> min 3.0; r1's 9.0 aged out
    assert bench.load_anchor_timings(str(tmp_path), 0.1) == {"q1": 3.0}
    # other-sf records never feed the anchor
    assert bench.load_anchor_timings(str(tmp_path), 0.01) == {}


def test_anchor_flags_creeping_drift(tmp_path):
    """The q151 failure mode, synthesized: a 1.3x/record monotone
    climb. Every adjacent step is < 2x (the adjacent gate never
    fires), but by the 5th record the current run is > 2x the window
    MIN — the anchor gate flags exactly this."""
    vals = [3.0 * 1.3**i for i in range(5)]  # 3.0 .. 8.57
    for i, v in enumerate(vals, start=1):
        _write_hist(
            tmp_path, i,
            {"sf": 0.1, "queries": {"q151": round(v, 2)}},
        )
    cur = round(vals[-1] * 1.3, 2)  # 11.14 — the next run of the creep
    _, prev_q = bench.load_prev_timings(str(tmp_path), 0.1)
    anchor_q = bench.load_anchor_timings(str(tmp_path), 0.1)
    # the adjacent gate stays silent: vs the median-of-3 baseline the
    # step is < 2x (this is the blind spot)
    adjacent = (
        cur > 2 * prev_q["q151"] and cur - prev_q["q151"] > 0.5
    )
    assert not adjacent
    # the anchor gate fires: 11.14 > 2 * 3.0 and +8.1s absolute
    anchored = (
        cur > 2 * anchor_q["q151"] and cur - anchor_q["q151"] > 0.5
    )
    assert anchored


def test_anchor_absolute_floor_suppresses_jitter(tmp_path):
    """Sub-second jitter class (q79/q114 in r15): >2x the anchor but
    under the 0.5s absolute floor must NOT flag."""
    for i in range(1, 4):
        _write_hist(tmp_path, i, {"sf": 0.1, "queries": {"q9": 0.2}})
    anchor_q = bench.load_anchor_timings(str(tmp_path), 0.1)
    cur = 0.55  # 2.75x but only +0.35s
    assert not (
        cur > 2 * anchor_q["q9"] and cur - anchor_q["q9"] > 0.5
    )


def test_committed_r07_backfill_is_readable():
    """The recovered r07 record must actually feed the gate: same-sf
    lookup at the real repo returns round >= 7 with a populated map."""
    import os

    repo = os.path.dirname(os.path.abspath(bench.__file__))
    n, q = bench.load_prev_timings(repo, 0.1)
    assert n is not None and n >= 7
    assert len(q) > 150


def test_committed_baselines_come_from_the_newest_history_window():
    """At the real repo the adjacent baseline is the median over
    r23-r21 and the anchor the MIN over r23-r19 (the driver's
    BENCH_r*.json records, r01 and r03-r05 the last with per-query
    maps, never reached either window)."""
    import os
    import statistics

    repo = os.path.dirname(os.path.abspath(bench.__file__))
    hist = os.path.join(
        repo, "data_integration_openfoodfacts_spark", "plans",
        "bench_history",
    )

    def window(rounds):
        out: dict[str, list[float]] = {}
        for r in rounds:
            with open(os.path.join(hist, f"r{r}.json")) as f:
                for q, sec in json.load(f)["queries"].items():
                    out.setdefault(q, []).append(sec)
        return out

    n, prev = bench.load_prev_timings(repo, 0.1)
    assert n == 23
    assert prev == {
        q: round(statistics.median(v), 2)
        for q, v in window([23, 22, 21]).items()
    }
    assert bench.load_anchor_timings(repo, 0.1) == {
        q: min(v) for q, v in window([23, 22, 21, 20, 19]).items()
    }
