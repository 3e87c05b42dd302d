"""Persisted component ledger (`operators/component_ledger.py`):
merges at delta cost via the canonical alias table, node-bucketed
probes, compaction, and replay convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.component_ledger import (
    compact_component_ledger,
    init_component_ledger,
    merge_ledger_components,
    probe_components,
    read_component_labels,
)
from data_integration_openfoodfacts_spark.operators.graph import (
    connected_components,
)

NB = 8


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _batch_labels(spark, pairs, nodes):
    cc = connected_components(_edges(spark, pairs), "u", "v")
    base = spark.createDataFrame([(n,) for n in nodes], "node long")
    return base.join(cc, "node", "left").withColumn(
        "component", F.coalesce("component", F.col("node"))
    )


def _as_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _seed(spark, tmp_path):
    p = str(tmp_path / "comp")
    init_component_ledger(
        _batch_labels(spark, [(1, 2), (5, 6), (8, 9)], [1, 2, 5, 6, 8, 9]),
        p, n_buckets=NB,
    )
    return p


def test_merge_lifecycle_matches_batch(spark, tmp_path):
    """Two merge deltas — the second chains an alias (5's component
    merges into 1's) — must leave resolved labels equal to batch CC
    over everything, with the alias table CANONICAL (no source is
    another row's target, so reads resolve in one join)."""
    p = _seed(spark, tmp_path)
    r1 = merge_ledger_components(spark, p, _edges(spark, [(6, 8), (9, 20)]))
    assert r1 == {"new_nodes": 1, "new_aliases": 1, "compacted": False}  # 8's comp -> 5
    r2 = merge_ledger_components(spark, p, _edges(spark, [(2, 5)]))
    assert r2 == {"new_nodes": 0, "new_aliases": 1, "compacted": False}  # 5 -> 1, chained
    got = _as_map(read_component_labels(spark, p))
    want = _as_map(
        _batch_labels(
            spark,
            [(1, 2), (5, 6), (8, 9), (6, 8), (9, 20), (2, 5)],
            [1, 2, 5, 6, 8, 9, 20],
        )
    )
    assert got == want
    alias = spark.read.parquet(f"{p}/alias")
    srcs = {r["old"] for r in alias.collect()}
    tgts = {r["new"] for r in alias.collect()}
    assert not (srcs & tgts), "alias chains must be canonicalized away"


def test_probe_is_pruned_and_resolved(spark, tmp_path):
    p = _seed(spark, tmp_path)
    merge_ledger_components(spark, p, _edges(spark, [(2, 5)]))
    probe = probe_components(
        spark, p, spark.createDataFrame([(6,), (9,), (777,)], "node long")
    )
    got = _as_map(probe)
    assert got == {6: 1, 9: 8}  # 777 unknown -> absent
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "nb" in plan


def test_replay_of_same_delta_is_noop(spark, tmp_path):
    p = _seed(spark, tmp_path)
    delta = _edges(spark, [(6, 8), (9, 20)])
    merge_ledger_components(spark, p, delta)
    before = _as_map(read_component_labels(spark, p))
    n_rows = spark.read.parquet(f"{p}/store").count()
    r = merge_ledger_components(spark, p, delta)
    assert r == {"new_nodes": 0, "new_aliases": 0, "compacted": False}
    assert _as_map(read_component_labels(spark, p)) == before
    assert spark.read.parquet(f"{p}/store").count() == n_rows


def test_compaction_applies_and_clears_aliases(spark, tmp_path):
    p = _seed(spark, tmp_path)
    merge_ledger_components(spark, p, _edges(spark, [(6, 8), (2, 5)]))
    before = _as_map(read_component_labels(spark, p))
    compact_component_ledger(spark, p)
    assert spark.read.parquet(f"{p}/alias").count() == 0
    assert _as_map(read_component_labels(spark, p)) == before
    # stored components are now physical (no alias needed)
    raw = _as_map(
        spark.read.parquet(f"{p}/store").select("node", "component")
    )
    assert raw == before
    # merges keep working after compaction
    merge_ledger_components(spark, p, _edges(spark, [(9, 30), (30, 1)]))
    got = _as_map(read_component_labels(spark, p))
    assert set(got.values()) == {1} and got[30] == 1


def test_nb_python_twin_matches_column_form(spark):
    """Round-14 pin: `_nb_of_py` (the driver-side bucket function the
    collected-merge path prunes with) must agree with `_nb_of_col`
    (the Column form every store row was laid out under) — a drift
    would silently mis-prune probes, the exact failure LayoutError
    exists to prevent."""
    from pyspark.sql import functions as F

    from data_integration_openfoodfacts_spark.operators.component_ledger import (  # noqa: E501
        _nb_of_col,
        _nb_of_py,
    )

    nodes = [0, 1, 7, 97, 12345, 10**12 + 7, 2**62]
    for nb in (2, 8, 64):
        df = spark.createDataFrame([(n,) for n in nodes], "node long")
        got = {
            r["node"]: r["b"]
            for r in df.select(
                "node", _nb_of_col(F.col("node"), nb).alias("b")
            ).collect()
        }
        want = {n: _nb_of_py(n, nb) for n in nodes}
        assert got == want, (nb, got, want)


def test_merge_collected_path_is_three_data_jobs(spark, tmp_path):
    """Round-14 optimization pin: a below-ceiling merge runs exactly
    the documented cluster work — the bounded edge collect, the
    bucket-pruned endpoint probe, the fresh-node append and the alias
    rewrite — with NO checkpoint/count jobs over delta-bounded frames
    (round 13 ran ~16 driver actions per merge; the serialized store
    actions were the suite's #1 cost). Job count is pinned via the
    status tracker at the measured round-14 floor: 2 for the bounded
    edge CollectLimit, 2 for the fused probe∪alias read, 3 for the
    bucketed fresh-node append, 1 for the alias rewrite."""
    p = _seed(spark, tmp_path)
    sc = spark.sparkContext
    before = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
    n_before = len(list(before))
    merge_ledger_components(spark, p, _edges(spark, [(6, 8), (9, 20)]))
    after = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
    n_jobs = len(list(after)) - n_before
    assert n_jobs <= 8, f"collected merge ran {n_jobs} jobs"
