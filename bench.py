"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect — the same shape a cluster job has). The first query
run includes JVM/codegen warmup; a session-level warmup pass touches
each table first so timings measure the plans, not file-listing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect_records(repo_dir: str, sf: float) -> list[tuple[int, dict]]:
    """All committed same-sf bench records, newest round first. Each
    entry is (round_number, {qN: sec}).

    Source: the committed ``plans/bench_history/rNN.json`` full records,
    not stdout captures, which truncate the per-query map.
    """
    import glob
    import re

    hist_dir = os.path.join(
        repo_dir, "data_integration_openfoodfacts_spark", "plans",
        "bench_history",
    )
    records: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(hist_dir, "r*.json")):
        m = re.match(r"r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as f:
                rec = json.load(f)
            queries = rec.get("queries") or {}
            if queries and rec.get("sf") == sf:
                records.append((int(m.group(1)), queries))
        except (OSError, ValueError):
            continue
    records.sort(key=lambda c: -c[0])
    return records


def load_prev_timings(repo_dir: str, sf: float):
    """Baseline per-query timings for the regression gate: each bench
    run self-compares so a 2x drift surfaces in the run that causes it.
    Only same-sf records compare. Returns (latest_round_number,
    {qN: sec}) or (None, {}).

    The baseline per query is the MEDIAN over the newest (up to) three
    committed records carrying that query: a single-newest baseline
    turns one lucky record into the next run's false flag, which the
    standalone re-run cannot dismiss because the "drift" is consistent
    within the run. The median of three is immune to one lucky or
    unlucky record in either direction.
    """
    records = _collect_records(repo_dir, sf)
    if not records:
        return None, {}
    import statistics

    merged: dict[str, list[float]] = {}
    for _rnd, queries in records[:3]:
        for q, sec in queries.items():
            merged.setdefault(q, []).append(sec)
    return records[0][0], {
        q: round(statistics.median(v), 2) for q, v in merged.items()
    }


#: long-window anchor depth: deep enough that a 1.3x/record creep is
#: >2x the window MIN by the time the window fills, shallow enough
#: that an intentional (committed, explained) cost change ages out in
#: ~5 rounds rather than flagging forever.
ANCHOR_WINDOW = 5


def load_anchor_timings(repo_dir: str, sf: float, window: int = ANCHOR_WINDOW):
    """Per-query MIN over the newest ``window`` committed same-sf
    records — the CREEPING-DRIFT anchor. A monotone climb whose every
    step is < 2x drags the adjacent median-of-3 baseline along and never
    flags. The adjacent gate compares against where the query was LAST
    ROUND; this anchor compares against the best the query has recently
    BEEN, which a monotone climb can't drag along.

    MIN (not median) is deliberate: the anchor asks "did we lose
    ground the query provably held?", and a single lucky record is
    handled by the same standalone reconciliation as adjacent flags —
    a reproduced anchor flag with a quiet standalone number is exactly
    the drift signal the gate exists to surface. Returns {qN: sec}.
    """
    merged: dict[str, float] = {}
    for _rnd, queries in _collect_records(repo_dir, sf)[:window]:
        for q, sec in queries.items():
            if q not in merged or sec < merged[q]:
                merged[q] = sec
    return merged


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0  # non-sfN directory: record 0.0 rather than crash late

    from data_integration_openfoodfacts_spark.plans.registry import QUERIES
    from data_integration_openfoodfacts_spark.session import get_spark
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        TABLES,
        load_table,
    )

    spark = get_spark(
        "bench",
        extra_conf={
            "spark.sql.warehouse.dir": "/tmp/benchwh",
            # progress bars would overflow a stdout tail capture:
            # keep stdout to the one JSON line
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up: file listing + parquet footer reads + JVM codegen paths.
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    # Two runs per query, min reported: standard steady-state
    # methodology — run 1 pays first-touch costs (codegen compile, file
    # listing) that a resident service amortizes away. Short keys
    # ("q17" not "q17_run_metrics") keep the emitted JSON line compact.
    timings: dict[str, float] = {}
    total = 0.0
    import gc

    jvm_gc_every = 5
    errors: dict[str, str] = {}
    for qi, (name, fn) in enumerate(QUERIES.items()):
        best = float("inf")
        try:
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                run_query(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            # Virtualized-host stalls hit random queries for seconds at
            # a time; when the two runs disagree badly, one of them ate
            # a stall — a third run breaks the tie so the recorded min
            # reflects the query, not the neighbor's noisy timeslice.
            # Heavy queries (>=2s) always get a third run and record
            # the MEDIAN, which is stable against one lucky AND one
            # unlucky run where min-of-2 wobbles with host noise.
            heavy = min(runs) >= 2.0
            if heavy or max(runs) > 1.5 * min(runs) + 0.2:
                t0 = time.perf_counter()
                run_query(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            best = sorted(runs)[1] if heavy else min(runs)
        except Exception as exc:  # noqa: BLE001 — one failing query
            # (e.g. q26's cartesian guard at a larger sf) must not
            # abort the suite and lose the round's bench record
            errors[name.split("_", 1)[0]] = type(exc).__name__
            continue
        timings[name.split("_", 1)[0]] = round(best, 2)
        total += best
        # Benchmark isolation: iterative queries leave localCheckpoint
        # blocks behind until their Py4J proxies are GC'd and the JVM
        # ContextCleaner's weak refs fire — without this, block-manager
        # storage accumulates across the suite and later queries pay
        # the memory pressure. Python gc drops the proxies every query;
        # a periodic JVM System.gc() lets the cleaner reclaim the blocks.
        gc.collect()
        if (qi + 1) % jvm_gc_every == 0:
            spark.sparkContext._jvm.System.gc()
        # Cache isolation: operators that .cache() a shared frame
        # (ngram_jaccard_pairs' shingle table, deliberately left to LRU)
        # leak that cache into LATER queries whose logical plans match
        # it, so registry reordering would read as a regression.
        # Clearing between queries makes each number the query's own.
        spark.catalog.clearCache()
    # qN prefixes must stay unique or a collision silently drops a
    # query's timing from the emitted map while total still includes it
    if len(timings) + len(errors) != len(QUERIES):
        raise RuntimeError("duplicate qN bench key prefix")

    # Baseline-comparable figure: the reference's only published number
    # is its 418k-row end-to-end ETL (BASELINE.md: 393-580s). Run the
    # same-scale pipeline (synthetic TSV, full sinks) so the bench
    # record carries a direct comparison.
    #
    # Same benchmark-isolation hygiene as the per-query loop, applied
    # BEFORE the pipeline section: the block manager still holds the
    # suite's not-yet-GC'd localCheckpoint blocks, and the pipeline's
    # global row_number window is the most memory-pressure-sensitive
    # stage in the repo.
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    pipeline_sec = None
    try:
        import tools.bench_pipeline as bp

        bp.ensure_tsv(bp.N_ROWS_DEFAULT)
        from data_integration_openfoodfacts_spark.plans.pipeline import (
            run_pipeline,
        )
        from data_integration_openfoodfacts_spark.sources.csv_source import (
            read_openfoodfacts_csv,
        )

        # Two runs, min — same steady-state methodology as the query
        # suite: run 1 pays one-off costs (Python UDF worker fork, CSV
        # codegen) that a resident pipeline service amortizes.
        # BOTH surrogate-key modes: row_number is the small-data
        # default; hash is the 100 TB shuffle-free mint. Their DQ
        # metrics must agree exactly (same rows kept/rejected, same
        # fact aggregates — SKs differ, accounting must not).
        def run_mode(strategy: str):
            best, metrics = float("inf"), None
            for _ in range(2):
                t0 = time.perf_counter()
                bronze = read_openfoodfacts_csv(
                    spark, bp.TSV, multi_line=False
                )
                res = run_pipeline(
                    spark,
                    bronze,
                    database=f"benchpipe_{strategy}",
                    sk_strategy=strategy,
                )
                best = min(best, time.perf_counter() - t0)
                metrics = {
                    k: v
                    for k, v in res.metrics.items()
                    if k != "duration_sec"
                }
            return round(best, 2), metrics

        pipeline_sec, dq_rn = run_mode("row_number")
        pipeline_hash_sec, dq_hash = run_mode("hash")

        def dq_equal(a, b):
            # exact for counts/flags; 1e-9 relative for float
            # aggregates — the two modes order fact rows differently,
            # and an unordered AVG over doubles legitimately differs in
            # the last couple of ulps (measured: 1e-13 relative).
            if set(a) != set(b):
                return False
            for k in a:
                x, y = a[k], b[k]
                if x is None or y is None:
                    # None-vs-value IS a parity failure (e.g.
                    # pct_nutriscore NULL in one mode only) — report
                    # false, never raise into the blanket except
                    if x is not y:
                        return False
                elif isinstance(x, float) or isinstance(y, float):
                    if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                        return False
                elif x != y:
                    return False
            return True

        pipeline_modes_dq_match = dq_equal(dq_rn, dq_hash)
    except Exception:  # noqa: BLE001 — bench must still emit its line
        pipeline_hash_sec, pipeline_modes_dq_match = None, None

    # Tiered regression gate vs the latest committed same-sf record
    # (sub-second entries live in the noisy-neighbor jitter band, so a
    # flat 2x rule would cry wolf on them):
    # - heavy tier (prev >= 0.5s): flag at >2x;
    # - light tier (prev < 0.5s): flag only when the query ALSO grew by
    #   >0.5s absolute — i.e. it left the jitter band entirely.
    # Every query is still value-hash-gated by the oracle run
    # regardless of tier; this gate is time-only.
    prev_round, prev_q = load_prev_timings(
        os.path.dirname(os.path.abspath(__file__)), sf
    )
    regressions = {
        q: [prev_q[q], cur]
        for q, cur in timings.items()
        if q in prev_q and cur > 2 * prev_q[q] and cur - prev_q[q] > 0.5
    }

    # Long-window anchor gate: the adjacent gate above is blind to a
    # monotone creep whose every step is < 2x. Anchor each query to the
    # MIN of the last ANCHOR_WINDOW committed records: a creep that
    # never triggers the adjacent gate still crosses 2x the recent best.
    # Same 0.5s absolute floor (sub-second jitter is not drift), same
    # standalone reconciliation below. Adjacent flags take precedence
    # (a query tripping both is one investigation, not two lines).
    anchor_q = load_anchor_timings(
        os.path.dirname(os.path.abspath(__file__)), sf
    )
    anchor_regressions = {
        q: [anchor_q[q], cur]
        for q, cur in timings.items()
        if q not in regressions
        and q in anchor_q
        and cur > 2 * anchor_q[q]
        and cur - anchor_q[q] > 0.5
    }

    # Self-reconciling gate: an in-suite flag is often a
    # virtualized-host stall or contended-window artifact, so before
    # flagging, re-run the flagged query STANDALONE — post-suite,
    # cache-cleared, freshly GC'd — with the same min-of-2 /
    # median-of-3-if-heavy methodology.
    # Only a flag the standalone re-run REPRODUCES survives; both
    # numbers land in the record either way ([prev, suite, standalone])
    # so a dismissed flag is auditable, not discarded. The committed
    # per-query map takes min(suite, standalone): next round's gate
    # should compare against the query's own cost, not the noise.
    # Dismissals are recorded PER GATE, since the two baselines mean
    # different things: `reconciled` holds adjacent-gate entries
    # ([prev-round timing, suite, standalone]), `anchor_reconciled`
    # holds anchor-gate entries ([long-window MIN, suite, standalone]).
    reconciled: dict[str, list[float]] = {}
    anchor_reconciled: dict[str, list[float]] = {}
    by_prefix = {n.split("_", 1)[0]: fn for n, fn in QUERIES.items()}
    if regressions or anchor_regressions:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        spark.catalog.clearCache()
    for gate in (regressions, anchor_regressions):
        baselines = prev_q if gate is regressions else anchor_q
        dismissed = (
            reconciled if gate is regressions else anchor_reconciled
        )
        for q in list(gate):
            try:
                fn = by_prefix[q]
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    run_query(fn(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
                heavy = min(runs) >= 2.0
                if heavy or max(runs) > 1.5 * min(runs) + 0.2:
                    t0 = time.perf_counter()
                    run_query(fn(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
                standalone = round(
                    sorted(runs)[1] if heavy else min(runs), 2
                )
                spark.catalog.clearCache()
                gc.collect()
            except Exception:  # noqa: BLE001 — keep the original flag
                continue
            prev, suite = baselines[q], timings[q]
            settled = min(suite, standalone)
            total += settled - suite
            timings[q] = settled
            if standalone > 2 * prev and standalone - prev > 0.5:
                gate[q] = [prev, suite, standalone]
            else:
                dismissed[q] = [prev, suite, standalone]
                del gate[q]

    # Full record -> committed report file; stdout stays a COMPACT
    # digest, since a stdout tail capture of 2,000 chars cannot hold
    # the full per-query map. The regression gate reads the committed
    # plans/bench_history/ records, which the end-of-round protocol
    # snapshots from plans/bench_report.json (tools/record_bench.py).
    full = {
        "metric": "engine_query_suite_wall",
        "value": round(total, 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pipeline_e2e_418k_sec": pipeline_sec,
        "pipeline_e2e_418k_hash_sk_sec": pipeline_hash_sec,
        "pipeline_modes_dq_match": pipeline_modes_dq_match,
        "baseline_pipeline_e2e_418k_sec": 393,
        "prev_round": prev_round,
        "regressions": regressions,
        "anchor_regressions": anchor_regressions,
        "reconciled": reconciled,
        "anchor_reconciled": anchor_reconciled,
        "errors": errors,
    }
    report_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "data_integration_openfoodfacts_spark",
        "plans",
        "bench_report.json",
    )
    with open(report_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:8]
    )
    line = json.dumps(
        {
            "metric": "engine_query_suite_wall",
            "value": round(total, 2),
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
            "slowest": slowest,
            "pipeline_e2e_418k_sec": pipeline_sec,
            "pipeline_e2e_418k_hash_sk_sec": pipeline_hash_sec,
            "pipeline_modes_dq_match": pipeline_modes_dq_match,
            "baseline_pipeline_e2e_418k_sec": 393,
            "prev_round": prev_round,
            "regressions": regressions,
            "anchor_regressions": anchor_regressions,
            "reconciled": reconciled,
            "anchor_reconciled": anchor_reconciled,
            "errors": errors,
            "full_report": "plans/bench_report.json",
        },
        separators=(",", ":"),
    )
    # hard guard: the whole point is fitting a 2,000-char tail
    # capture. A pathological run (mass regressions/errors) trims the
    # variable-size maps rather than overflowing — the full detail is
    # in the report file either way.
    if len(line) >= 1900:
        digest = json.loads(line)
        digest["slowest"] = {}
        digest["regressions"] = {"n": len(regressions)}
        digest["anchor_regressions"] = {"n": len(anchor_regressions)}
        digest["reconciled"] = {"n": len(reconciled)}
        digest["anchor_reconciled"] = {"n": len(anchor_reconciled)}
        digest["errors"] = {"n": len(errors)}
        line = json.dumps(digest, separators=(",", ":"))
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
