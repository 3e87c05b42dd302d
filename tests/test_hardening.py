"""Edge-input hardening: empty bronze, header-only CSV, table
statistics."""

from __future__ import annotations

import os

from data_integration_openfoodfacts_spark.plans.pipeline import run_pipeline
from data_integration_openfoodfacts_spark.sources.csv_source import (
    read_openfoodfacts_csv,
)
from tests.test_pipeline import HEADER


def test_pipeline_on_header_only_csv(spark, tmp_path):
    path = os.path.join(str(tmp_path), "empty.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n")
    res = run_pipeline(spark, read_openfoodfacts_csv(spark, path))
    assert res.metrics["rows_in"] == 0
    assert res.metrics["rows_out"] == 0
    assert res.metrics["sugar_anomalies"] == 0
    for name, df in res.tables.items():
        assert df.count() == 0, name


def test_malformed_numerics_become_null_not_errors(spark, tmp_path):
    """ANSI mode would fail the whole job on one bad cell; the pipeline
    must degrade it to NULL (reference semantics, pre-ANSI Spark 3.4)."""
    path = os.path.join(str(tmp_path), "bad.tsv")
    row = (
        "0042\tThing\tAcme\ten:meals\tMeals\t\tFrance\tnot_a_number\ta\t"
        "abc\txyz\t--\t12.5\t0.5\t8\t1\t0.2\toops"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + row + "\n")
    res = run_pipeline(spark, read_openfoodfacts_csv(spark, path))
    r = res.tables["silver_products"].first()
    assert r["energy_kcal_100g"] is None
    assert r["fat_100g"] is None
    assert r["sugars_100g"] == 12.5
    assert r["completeness"] is None
    assert r["last_modified_t"] is None


def test_main_category_imputed_like_reference(spark, tmp_path):
    """pipeline_etl.ipynb imputes main_category -> 'non classe'; head
    extraction must run FIRST so 'en:undefined-x' reduces to the
    invalid token before the check."""
    path = os.path.join(str(tmp_path), "cat.tsv")
    rows = [
        # main_category: language-prefixed invalid token
        "0050\tThing A\tAcme\ten:undefined-snacks\tSnacks\t\tFrance\t1700000000\ta\t100\t1\t1\t1\t1\t1\t1\t0.4\t0.5",
        # main_category: empty
        "0051\tThing B\tAcme\t\tSnacks\t\tFrance\t1700000001\tb\t100\t1\t1\t1\t1\t1\t1\t0.4\t0.5",
    ]
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(rows) + "\n")
    res = run_pipeline(spark, read_openfoodfacts_csv(spark, path))
    got = {
        r["code"]: r["main_category"]
        for r in res.tables["silver_products"].collect()
    }
    assert got == {"0050": "non classe", "0051": "non classe"}
    cats = {
        r["category_name"] for r in res.tables["dim_category"].collect()
    }
    assert cats == {"non classe"}


def test_analyze_tables_records_stats(spark, tmp_path):
    path = os.path.join(str(tmp_path), "p.tsv")
    from tests.test_pipeline import ROWS

    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    run_pipeline(
        spark,
        read_openfoodfacts_csv(spark, path),
        database="statdemo",
        analyze_tables=True,
    )
    desc = spark.sql(
        "DESCRIBE TABLE EXTENDED statdemo_gold.dim_brand"
    ).collect()
    stats = [r for r in desc if r["col_name"] == "Statistics"]
    assert stats and "rows" in stats[0]["data_type"]
