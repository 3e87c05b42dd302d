"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column
names/ordering-insensitive schema, and exact sorted values.

Usage: python tools/check_oracle.py [--record] [--budget=SEC] [sf_dir]
       [query ...]

``--budget`` (default 15s) flags — does not fail — any query whose
Spark+oracle wall time exceeds it: the driver's 50-query gate window
has a finite time budget, and a pathological plan regression should
surface as a visible SLOW line here before it silently eats the gate
(VERDICT r04 item 4). The end-of-run summary lists every flagged query
with its time.

``--record`` updates ``plans/gate_state.json``: every PASS (and
rows-only SKIP with >0 rows) stores the query's CURRENT code+oracle
fingerprint as "locally verified", which ``tools/update_gate_state.py``
uses to keep churned-but-unverified queries at the front of the
driver's 50-entry gate window. Record a FULL run (no query filter) once
per round after the last code change, then regenerate the order.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df):
    """pandas frame -> (sorted columns, canonical sorted rows)."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon = []
        for v in row:
            if isinstance(v, float):
                canon.append(f"{v:.10g}")
            else:
                canon.append(repr(v))
        rows.append("|".join(canon))
    return sorted(rows)


def main() -> int:
    budget = 15.0
    argv = []
    for a in sys.argv[1:]:
        if a == "--record":
            continue
        if a.startswith("--budget="):
            budget = float(a.split("=", 1)[1])
            continue
        argv.append(a)
    record = "--record" in sys.argv[1:]
    stale_only = "--stale" in sys.argv[1:]
    argv = [a for a in argv if a != "--stale"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if stale_only:
        # Run exactly the queries whose code/oracle fingerprint drifted
        # since their last recorded local green AT THIS sf — the cheap
        # path for the end-of-round protocol (and per-commit hygiene):
        # after an edit, `--stale --record` re-verifies the churned
        # import closure only. Staleness is PER SCALE FACTOR (the
        # per-sf fingerprint map `sfs`): a green record at sf0.01 never
        # satisfies a --stale pass at sf0.1.
        from tools import gate_state

        fps = gate_state.current_fingerprints()
        verified = gate_state.load_state().get("verified", {})
        drifted = gate_state.stale_keys(fps, verified, sf_dir)
        if only:
            # validate explicit names BEFORE intersecting: a typo must
            # error loudly, and a requested-but-not-stale name must be
            # reported, not silently dropped (round-6 ADVICE — the old
            # `only & drifted` could print "no stale queries" for a
            # misspelled name and skip a re-verify)
            unknown = only - set(fps)
            if unknown:
                print(f"ERROR: unknown query name(s): {sorted(unknown)}")
                return 2
            fresh = only - drifted
            if fresh:
                print(
                    "requested but not stale (already verified at HEAD "
                    f"for {sf_dir}, skipped): {sorted(fresh)}"
                )
            only = only & drifted
        else:
            only = drifted
        if not only:
            print(
                f"no stale queries — all fingerprints verified at HEAD "
                f"for {sf_dir}"
            )
            return 0
        print(f"{len(only)} stale queries to re-verify at {sf_dir}")

    import __spark_entry__ as entrymod
    from data_integration_openfoodfacts_spark.session import get_spark
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        TABLES,
        load_table,
    )

    spark = get_spark("check-oracle")
    # Session warmup (bench.py's recipe): file listing + parquet
    # footers + first-job JVM/codegen costs land HERE, not on the
    # first query's recorded wall — before this, whichever query
    # sorted first in the gate order carried ~8s of one-time session
    # cost into slow_report.json and tripped the budget flag (round-8:
    # q163 measured 15.9s cold-first vs ~6s warm).
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # ... and the Python-worker/Arrow path: the first pandas_udf of a
    # session pays worker fork + pandas import + Arrow codec setup
    # (~7s measured on q43: 10.8s cold vs 3.6s warm), which the gate's
    # single-run timings would otherwise charge to whichever
    # Arrow-heavy pair query runs first.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # lambda form: the module has `from __future__ import annotations`,
    # which turns signature hints into strings pyspark cannot resolve
    # against main()'s locals
    _warm_arrow = pandas_udf(lambda v: v * 1.0, "double")
    spark.range(64).select(
        _warm_arrow(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()
    # Store/stream warmup (round-11 VERDICT #4): the session's FIRST
    # parquet write job, Hadoop local-FS JVM calls, store-log IO and
    # Structured-Streaming start together cost ~5-8s and landed on
    # whichever store-lifecycle query sorted first in the gate order
    # (q178/q179 in r10, q192 in r11) — the same attribution wart the
    # table/Arrow warmups above fix for scans and pandas UDFs. A
    # 2-row counting-screen drain in a temp dir touches all of those
    # paths once, charged to warmup instead of the first such query.
    import shutil as _sh
    import tempfile as _tf

    _wtmp = _tf.mkdtemp(prefix="gate_warm_")
    try:
        from data_integration_openfoodfacts_spark.streaming.counting_store import (  # noqa: E501
            run_counting_screen_stream,
        )

        spark.range(2).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text",
            "'en' AS lang", "'warm' AS source",
            "CAST(1 AS BIGINT) AS n_chars",
        ).coalesce(1).write.parquet(f"{_wtmp}/src")
        run_counting_screen_stream(
            spark, f"{_wtmp}/src", f"{_wtmp}/store", f"{_wtmp}/res",
            f"{_wtmp}/ckpt", n_words=64, k=2,
        )
    finally:
        _sh.rmtree(_wtmp, ignore_errors=True)
    con = duck_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # Shared-memo warmup (round-10 candidate #2, build attribution):
    # q97/q104 share the memoized co-order edge checkpoint; in this
    # single-run-per-query harness whichever consumer sorts FIRST
    # absorbs the ~2.6s (sf0.1) build into its recorded wall, so the
    # same plan reads ~14s or ~10s depending on rotation order and the
    # SLOW flag chases the ordering, not the code. Build the memo in
    # the warmup phase whenever any consumer is about to run (same
    # rationale as the table/Arrow warmups above: measure the query,
    # not session state), and force-release it after the loop so a
    # window containing only ONE consumer doesn't leave the blocks
    # pinned for nothing. Private-API import is deliberate — a
    # tools-side hook keeps olap_queries' ~30-query fingerprint
    # closure untouched (CLAUDE.md: batch edits to wide-closure
    # modules).
    from data_integration_openfoodfacts_spark.plans.olap_queries import (
        _EDGES_CONSUMED,
        _EDGES_CONSUMERS,
        _EDGES_MEMO,
        _co_order_edges,
        _release_local_checkpoint,
    )

    will_run = set(only) if only else set(qs)
    if will_run & _EDGES_CONSUMERS:
        _co_order_edges(spark, sf_dir)

    def _force_release_edge_memo() -> None:
        key = (spark.sparkContext.applicationId, sf_dir)
        df = _EDGES_MEMO.pop(key, None)
        if df is not None:
            _release_local_checkpoint(df)
        _EDGES_CONSUMED.pop(key, None)
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    failures = 0
    greens: list[str] = []
    slow: list[tuple[str, float]] = []
    timings: dict[str, float] = {}

    def clock(name: str, t0: float) -> float:
        dt = time.perf_counter() - t0
        timings[name] = dt
        if dt > budget:
            slow.append((name, round(dt, 1)))
        return dt

    import gc

    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # bench.py's benchmark-isolation hygiene, applied to the gate
        # replica: iterative queries leave localCheckpoint blocks
        # behind until their Py4J proxies are GC'd; across a 160-query
        # session the accumulated block-manager pressure showed up as
        # 3-10x wall drift on the Arrow-heavy pair queries (q43 ran
        # 35s in-suite vs ~7s standalone at sf0.1). Python gc drops
        # the proxies per query; a periodic JVM System.gc() lets the
        # ContextCleaner actually reclaim the blocks.
        gc.collect()
        n_run += 1
        if n_run % 5 == 0:
            spark.sparkContext._jvm.System.gc()
        # bench.py's cache isolation (round 9): a .cache()'d frame from
        # an earlier query (q18's shingle table) must not flatter a
        # later query's recorded wall — timings must survive registry
        # reordering.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            dt = clock(name, t0)
            print(
                f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows, "
                f"{dt:.1f}s)"
            )
            if len(sdf) > 0:
                greens.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        dt = clock(name, t0)
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} duckdb={len(ddf)}")
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(
                f"FAIL {name}: cols spark={sorted(sdf.columns)} "
                f"duckdb={sorted(ddf.columns)}"
            )
            failures += 1
            continue
        # Dtype-KIND parity (int vs float vs obj). The driver's value
        # hash is sensitive to it even when printed values agree:
        # DuckDB SUM over integer types returns HUGEINT, which pandas
        # renders float64 — the round-1/2 q17 "hash mismatch" was this,
        # masked locally by the %.10g float canonicalization below.
        # Fix the oracle with CAST(SUM(...) AS BIGINT), never the repo
        # side.
        kind = lambda d: {"i": "int", "u": "int", "f": "float",
                          "b": "bool", "M": "ts"}.get(d.kind, "obj")
        kind_bad = [
            c for c in sdf.columns
            if kind(sdf[c].dtype) != kind(ddf[c].dtype)
        ]
        if kind_bad:
            print(
                f"FAIL {name}: dtype kind mismatch on {kind_bad}: "
                + ", ".join(
                    f"{c}: spark={sdf[c].dtype} duck={ddf[c].dtype}"
                    for c in kind_bad
                )
            )
            failures += 1
            continue
        a, b = normalize(sdf), normalize(ddf)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ, first diffs: {bad}")
            failures += 1
            continue
        print(f"PASS {name} ({len(sdf)} rows, {dt:.1f}s)")
        greens.append(name)
    _force_release_edge_memo()
    if slow:
        # Session warmup is paid before the loop (see above), so ANY
        # entry here is a real plan-cost signal.
        print(
            f"SLOW (> {budget:g}s wall at this sf): "
            + ", ".join(f"{n}={t}s" for n, t in slow)
        )
    if record and greens:
        from tools import gate_state

        fps = gate_state.current_fingerprints()
        state = gate_state.load_state()
        verified = state.setdefault("verified", {})
        for name in greens:
            v = verified.setdefault(name, {})
            # `fingerprint` = latest green anywhere (rotation reads it);
            # `sfs` = per-scale-factor fingerprint map (--stale reads it)
            v["fingerprint"] = fps[name]
            sfs = v.setdefault("sfs", {})
            # drop per-sf entries recorded under older fingerprints
            for sd in list(sfs):
                if sfs[sd] != fps[name]:
                    del sfs[sd]
            sfs[gate_state.sf_key(sf_dir)] = fps[name]
        gate_state.save_state(state)
        print(f"recorded {len(greens)} green fingerprints -> {gate_state.STATE_PATH}")
    if record and timings:
        # Persist per-query wall times next to gate_state so SLOW drift
        # is visible ACROSS rounds, not just in the run's stdout
        # (round-5 VERDICT #4). Merged per query; the first query of a
        # session carries ~8s of JVM warmup — compare positions, not
        # absolutes, for the warmup entry.
        import json

        slow_path = gate_state.STATE_PATH.parent / "slow_report.json"
        try:
            report = json.loads(slow_path.read_text())
        except Exception:  # noqa: BLE001 — first run or corrupt file
            report = {}
        by_sf = report.get("by_sf", {})
        entry = by_sf.setdefault(
            gate_state.sf_key(sf_dir), {"budget_sec": budget, "timings": {}}
        )
        # the sf's budget is STICKY at first record: a one-off run with
        # a looser --budget must not silently rewrite which queries
        # count as SLOW across rounds (round-6 review finding). Edit
        # slow_report.json directly to change an sf's budget on purpose.
        entry.setdefault("budget_sec", budget)
        entry["timings"].update(
            {n: round(t, 2) for n, t in timings.items()}
        )
        # prune queries no longer in the registry (renames/removals)
        live = set(qs)
        for e in by_sf.values():
            e["timings"] = {
                n: t for n, t in sorted(e["timings"].items()) if n in live
            }
            e["over_budget"] = sorted(
                n for n, t in e["timings"].items() if t > e["budget_sec"]
            )
        slow_path.write_text(
            json.dumps({"by_sf": by_sf}, indent=1) + "\n"
        )
        print(f"persisted {len(timings)} query timings -> {slow_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
