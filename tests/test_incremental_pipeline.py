"""Incremental (CDC) medallion pipeline: two CSV drops, the second
updates a product — gold must reflect the latest version, and a re-run
with the same checkpoint must be a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.dedup import (
    dedup_keep_latest,
    dedup_keep_latest_salted,
)
from data_integration_openfoodfacts_spark.streaming.incremental_pipeline import (
    run_incremental_pipeline,
)
from tests.test_pipeline import HEADER

DROP1 = [
    "0001\tFirst Version\tAcme\ten:meals\tMeals\t\tFrance\t1700000000\ta\t200\t5\t1\t1\t0.5\t10\t1\t0.2\t0.7",
    "0002\tStable Product\tBrandB\ten:snacks\tSnacks\t\tSpain\t1700000050\tb\t300\t8\t2\t5\t0.8\t6\t2\t0.3\t0.6",
]
DROP2 = [
    "0001\tUpdated Version\tAcme\ten:meals\tMeals\t\tFrance\t1800000000\tb\t250\t6\t1\t2\t0.6\t11\t1\t0.2\t0.8",
    "0003\tNew Product\tBrandC\ten:drinks\tDrinks\t\tItaly\t1800000100\tc\t50\t0\t0\t10\t0.1\t0\t0\t0.04\t0.5",
]


@pytest.fixture(scope="module")
def incremental(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("drops"))
    work = str(tmp_path_factory.mktemp("work"))
    with open(os.path.join(src, "drop1.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP1) + "\n")
    run_incremental_pipeline(spark, src, work)
    state1 = {
        r["code"]: r["product_name"]
        for r in spark.read.parquet(f"{work}/silver").collect()
    }
    with open(os.path.join(src, "drop2.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP2) + "\n")
    run_incremental_pipeline(spark, src, work)
    return spark, src, work, state1


def test_first_drop_loaded(incremental):
    _, _, _, state1 = incremental
    assert state1 == {"0001": "first version", "0002": "stable product"}


def test_update_wins_and_new_product_appears(incremental):
    spark, _, work, _ = incremental
    silver = {
        r["code"]: (r["product_name"], r["last_modified_t"])
        for r in spark.read.parquet(f"{work}/silver").collect()
    }
    assert silver["0001"] == ("updated version", 1800000000)
    assert silver["0002"][0] == "stable product"
    assert silver["0003"][0] == "new product"


def test_gold_rebuilt_from_merged_silver(incremental):
    spark, _, work, _ = incremental
    prod = spark.read.parquet(f"{work}/gold/dim_product")
    assert prod.count() == 3
    fact = spark.read.parquet(f"{work}/gold/fact_nutrition_snapshot")
    assert fact.count() == 3
    brands = {
        r["brand_name"]
        for r in spark.read.parquet(f"{work}/gold/dim_brand").collect()
    }
    assert brands == {"acme", "brandb", "brandc"}


def test_rerun_is_noop(incremental):
    spark, src, work, _ = incremental
    before = spark.read.parquet(f"{work}/silver").count()
    run_incremental_pipeline(spark, src, work)
    assert spark.read.parquet(f"{work}/silver").count() == before


def test_salted_dedup_equals_plain(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    order = [F.col("l_shipdate").desc(), F.col("l_linenumber").desc()]
    plain = dedup_keep_latest(ev, ["l_orderkey"], order)
    salted = dedup_keep_latest_salted(ev, ["l_orderkey"], order, n_salts=8)
    cols = sorted(ev.columns)
    a = sorted(map(tuple, plain.select(*cols).collect()))
    b = sorted(map(tuple, salted.select(*cols).collect()))
    assert a == b


def test_product_history_tracks_versions(incremental):
    """SCD2 dim_product_history on the CDC path: the updated product has
    two versions (old one closed, new one current); untouched products
    have one open version each."""
    spark, _, work, _ = incremental
    hist = spark.read.parquet(f"{work}/gold/dim_product_history")
    by_code = {}
    for r in hist.collect():
        by_code.setdefault(r["code"], []).append(r)
    assert set(by_code) == {"0001", "0002", "0003"}
    v1, v2 = sorted(by_code["0001"], key=lambda r: r["version"])
    assert v1["product_name"] == "first version"
    assert not v1["is_current"]
    assert v1["effective_to"] == v2["effective_from"] == 1800000000
    assert v2["product_name"] == "updated version"
    assert v2["is_current"] and v2["effective_to"] is None
    for code in ("0002", "0003"):
        (only,) = by_code[code]
        assert only["is_current"] and only["version"] == 1


def test_versioned_gold_gives_per_drop_history(spark, tmp_path):
    """versioned_gold=True: each drop commits a gold snapshot version —
    time travel across loads + diff between them."""
    from data_integration_openfoodfacts_spark.sources.versioned import (
        latest_version,
        read_snapshot,
        snapshot_diff,
    )

    src = str(tmp_path / "drops")
    work = str(tmp_path / "work")
    os.makedirs(src)
    with open(os.path.join(src, "drop1.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP1) + "\n")
    run_incremental_pipeline(spark, src, work, versioned_gold=True)
    with open(os.path.join(src, "drop2.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP2) + "\n")
    run_incremental_pipeline(spark, src, work, versioned_gold=True)

    root = f"{work}/gold/dim_product"
    assert latest_version(spark, root) == 1
    v0 = read_snapshot(spark, root, 0).count()
    v1 = read_snapshot(spark, root).count()
    assert v1 > v0, "second drop adds products to the latest snapshot"
    st = {
        r.status
        for r in snapshot_diff(
            spark, root, 0, 1, ["code"], ["product_name"]
        ).collect()
    }
    assert "added" in st


def test_mode_flip_on_versioned_store_refuses(spark, tmp_path):
    """versioned_gold=False on a versioned gold root must raise, not
    silently destroy the snapshot history."""
    src = str(tmp_path / "drops")
    work = str(tmp_path / "work")
    os.makedirs(src)
    with open(os.path.join(src, "drop1.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP1) + "\n")
    run_incremental_pipeline(spark, src, work, versioned_gold=True)
    with open(os.path.join(src, "drop2.tsv"), "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(DROP2) + "\n")
    with pytest.raises(Exception, match="versioned snapshot store"):
        run_incremental_pipeline(spark, src, work)  # default: plain mode
    # history intact after the refusal
    from data_integration_openfoodfacts_spark.sources.versioned import (
        latest_version,
    )

    assert latest_version(spark, f"{work}/gold/dim_product") == 0
