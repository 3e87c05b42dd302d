"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import datagen  # noqa: E402
import layertrace  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- percentiles -------------------------------------------------------
def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order is fine
    value, pct, beyond = stats.tail(list(reversed(xs)))
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_with_twenty_one_samples_is_the_one_above_the_median():
    value, pct, beyond = stats.tail([float(i) for i in range(21, 0, -1)])
    assert value == 11.0 and beyond == 10
    assert pct == pytest.approx(100.0 * 11 / 21)


def test_tail_with_too_few_samples_reports_the_max_and_zero_beyond():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(i) for i in range(20)]) == (19.0, 100.0, 0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


def test_union_of_job_intervals_is_clipped_and_merged():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert layertrace.union_s(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert layertrace.union_s([], 0.0, 1.0) == 0.0


# -- seeded inputs -----------------------------------------------------
def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_yields_the_same_tsv_bytes(tmp_path):
    a = datagen.write_tsv(str(tmp_path / "a"), 500, 7)
    b = datagen.write_tsv(str(tmp_path / "b"), 500, 7)
    c = datagen.write_tsv(str(tmp_path / "c"), 500, 8)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_tsv_is_keyed_by_rows_and_seed(tmp_path):
    a = datagen.write_tsv(str(tmp_path), 300, 1)
    b = datagen.write_tsv(str(tmp_path), 300, 2)
    assert a != b and _bytes(a) != _bytes(b)
    assert datagen.write_tsv(str(tmp_path), 300, 1) == a


def test_every_seed_gives_the_dedup_rejects_to_find(tmp_path):
    for seed in (1, 2, 3):
        path = datagen.write_tsv(str(tmp_path), 2_000, seed)
        with open(path, encoding="utf-8") as f:
            header = f.readline().rstrip("\n").split("\t")
            rows = [line.rstrip("\n").split("\t") for line in f]
        assert len(rows) == 2_000 + datagen.TSV_REPEATS
        codes = [r[0] for r in rows]
        assert len(codes) - len(set(codes)) >= datagen.TSV_REPEATS
        # each re-delivery is the code's latest version
        lm = header.index("last_modified_t")
        for r in rows[2_000:]:
            assert int(r[lm]) == max(int(x[lm]) for x in rows if x[0] == r[0])


def test_same_seed_yields_the_same_tables(tmp_path):
    rows = datagen.write_tables(str(tmp_path / "a"), 0.001, 5)
    datagen.write_tables(str(tmp_path / "b"), 0.001, 5)
    datagen.write_tables(str(tmp_path / "c"), 0.001, 6)
    assert rows["lineitem"] == 6000 and rows["region"] == 5
    for t in rows:
        same = _bytes(str(tmp_path / "a" / f"{t}.parquet"))
        assert same == _bytes(str(tmp_path / "b" / f"{t}.parquet")), t
    assert _bytes(str(tmp_path / "a" / "documents.parquet")) != _bytes(
        str(tmp_path / "c" / "documents.parquet")
    )


# -- failure counting --------------------------------------------------
def test_wrong_results_and_errors_count_as_failures(monkeypatch):
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert workloads.compare_frames(good, good.iloc[::-1]) is None
    assert "rows" in workloads.compare_frames(good, good.iloc[:1])
    assert workloads.compare_frames(good, good.assign(v=[0.5, 2.5])) == "values differ"
    assert "dtype" in workloads.compare_frames(good, good.assign(k=[1.0, 2.0]))

    class Toy:
        """A workload whose second op returns a wrong result and whose
        third op raises."""

        def collects(self, op):
            return True

        def run(self, ctx, op, collect):
            if op.name == "boom":
                raise RuntimeError("boom")
            return good if op.name == "ok" else good.iloc[:1]

        def check(self, ctx, op, result):
            return workloads.compare_frames(result, good)

        def check_timed(self, ctx, op, result):
            return None

    import run

    monkeypatch.setattr(run, "isolate", lambda spark: None)
    args = argparse.Namespace(workload="toy", seed=1, seconds=0.0, trace=0)
    h = run.Harness(args, work="", workload=Toy())
    for name in ("ok", "wrong", "boom"):
        h.run_op(workloads.Op(name, "query"), check=True)
    h.run_op(workloads.Op("wrong", "query"), check=False)  # timed runs do not collect
    assert (h.outcomes.attempted, h.outcomes.failed) == (4, 2)
    assert h.outcomes.failed_frac == 0.5
    assert h.outcomes.reasons[1].startswith("boom: RuntimeError")


def test_sk_mode_metrics_agree_up_to_float_ulps():
    a = {"rows_in": 10, "avg": 0.1 + 0.2, "pct": None}
    assert workloads.dq_equal(a, {"rows_in": 10, "avg": 0.3, "pct": None})
    assert not workloads.dq_equal(a, {"rows_in": 11, "avg": 0.3, "pct": None})
    assert not workloads.dq_equal(a, {"rows_in": 10, "avg": 0.3, "pct": 1.0})


# -- status store reader -----------------------------------------------
@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("PYTHONPATH", os.path.dirname(BENCH))
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_reader_attributes_a_toy_job(spark):
    reader = layertrace.EngineReader(spark.sparkContext)
    tracer = layertrace.Tracer()
    tracer.enabled = True
    with tracer.span("sink"):
        spark.range(0, 10_000, numPartitions=4).selectExpr("id % 7 AS k").groupBy(
            "k"
        ).count().collect()
    spark.range(10).count()  # untagged
    jobs = reader.new_jobs()
    assert jobs and [j["id"] for j in jobs] == sorted(j["id"] for j in jobs)
    groups = {j["group"] for j in jobs}
    assert "sink" in groups and None in groups
    totals = layertrace.LayerTotals()
    totals.add_jobs(jobs)
    sink = totals.layer["sink"]
    assert sink["jobs"] >= 1 and sink["tasks"] >= 4
    assert sink["run_s"] > 0 and sink["shuffle_bytes"] > 0
    assert totals.layer["unattributed"]["jobs"] >= 1
    assert 0 < totals.unattributed_jobs < totals.jobs
    assert reader.new_jobs() == []  # each job is read once
    totals.add_spans(tracer)
    assert totals.layer["sink"]["calls"] == 1
    assert spark.sparkContext.getLocalProperty(layertrace.GROUP_PROP) is None


def test_install_wraps_functions_in_every_importing_namespace(spark):
    import data_integration_openfoodfacts_spark.plans.registry  # noqa: F401
    from data_integration_openfoodfacts_spark.plans import gold_oracle_queries
    from data_integration_openfoodfacts_spark.plans import gold_analytics

    original = gold_analytics.top_brands_by_ab_proportion
    tracer = layertrace.Tracer()
    try:
        assert tracer.install() > 0
        wrapped = gold_analytics.top_brands_by_ab_proportion
        assert wrapped is not original
        assert gold_oracle_queries.top_brands_by_ab_proportion is wrapped
        assert wrapped.__wrapped_layer__ == "plans.gold_analytics"
    finally:
        tracer.uninstall()
    assert gold_oracle_queries.top_brands_by_ab_proportion is original
