"""End-to-end medallion pipeline test on a synthetic OpenFoodFacts-style
TSV exercising every Silver/Gold transform: accents, invalid tokens,
out-of-bounds nutrients, salt<->sodium derivation, duplicate codes
(keep-latest), category prefixes, multi-country lists."""

from __future__ import annotations

import operator
import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.dq import assert_unique
from data_integration_openfoodfacts_spark.operators.validation import NUTRIENT_BOUNDS
from data_integration_openfoodfacts_spark.plans.pipeline import run_pipeline
from data_integration_openfoodfacts_spark.sources.csv_source import (
    read_openfoodfacts_csv,
)

HEADER = (
    "code\tproduct_name\tbrands\tmain_category\tcategories_en\tcategories\t"
    "countries_en\tlast_modified_t\tnutriscore_grade\tenergy-kcal_100g\t"
    "fat_100g\tsaturated-fat_100g\tsugars_100g\tsalt_100g\tproteins_100g\t"
    "fiber_100g\tsodium_100g\tcompleteness"
)

ROWS = [
    # clean row, accented brand, 2 countries
    "0001\tCôte d'Or™ Noir\tCôte d'Or\ten:snacks-sweet\tSnacks\t\tFrance, Belgium\t1700000000\ta\t500\t30\t10\t40\t1.5\t8\t3\t0.6\t0.9",
    # duplicate code, OLDER -> must lose keep-latest
    "0001\tOld Name\tCôte d'Or\ten:snacks-sweet\tSnacks\t\tFrance\t1600000000\tb\t400\t20\t5\t30\t1.0\t7\t2\t0.4\t0.8",
    # invalid tokens -> imputed defaults; out-of-bounds kcal -> NULL
    "0002\tMystery\tunknown\ten:beverages\tundefined\tDrinks\tn/a\t1700000100\tnull\t5000\t1\t0\t2\t0.1\t0\t0\t0.04\t0.5",
    # salt missing -> derived from sodium*2.5
    "0003\tSalty Thing\tAcme\ten:meals\tMeals\t\tSpain\t1700000200\tc\t200\t5\t1\t1\t\t10\t1\t2\t0.7",
    # empty code -> rejected
    "\tNo Code\tNobody\ten:misc\tMisc\t\tNowhere\t1700000300\td\t100\t1\t1\t1\t1\t1\t1\t0.4\t0.3",
    # literal "null" code -> rejected
    "null\tNull Code\tNobody\ten:misc\tMisc\t\tNowhere\t1700000400\te\t100\t1\t1\t1\t1\t1\t1\t0.4\t0.3",
]


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("off")), "products.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    bronze = read_openfoodfacts_csv(spark, path)
    return run_pipeline(spark, bronze)


def test_row_accounting(result):
    m = result.metrics
    assert m["rows_in"] == 6
    # 2 rejected (bad codes) + 1 dedup'd away -> 3 silver rows
    assert m["rows_out"] == 3
    assert m["rows_rejected"] == 3


def test_keep_latest_wins(result):
    silver = result.tables["silver_products"]
    row = silver.filter("code = '0001'").first()
    assert row["last_modified_t"] == 1700000000
    assert row["product_name"] == "cote dortm noir"  # folded+cleaned


def test_imputation_defaults(result):
    row = result.tables["silver_products"].filter("code = '0002'").first()
    assert row["brands"] == "marque inconnue"
    assert row["countries_en"] == ["pays inconue"]
    assert row["nutriscore_grade"] == "non classe"
    assert row["categories_en"] == "drinks"  # fallback col used


def test_bounds_null_out_of_range(result):
    row = result.tables["silver_products"].filter("code = '0002'").first()
    assert row["energy_kcal_100g"] is None
    assert row["energy_kj_100g"] is None


def test_salt_derived_from_sodium(result):
    row = result.tables["silver_products"].filter("code = '0003'").first()
    assert row["salt_100g"] == pytest.approx(2 * 2.5, abs=0.05)


def test_category_head_extracted(result):
    row = result.tables["silver_products"].filter("code = '0001'").first()
    assert row["main_category"] == "snacks"


def test_countries_is_array(result):
    row = result.tables["silver_products"].filter("code = '0001'").first()
    assert row["countries_en"] == ["france", "belgium"]


def _orphans(fact, dim, key):
    """Fact rows whose key has no match in the dimension."""
    return fact.join(dim.select(key).distinct(), key, "left_anti").count()


def test_gold_star_integrity(result):
    t = result.tables
    assert assert_unique(t["dim_product"], ["code"]) == 0
    assert assert_unique(t["dim_brand"], ["brand_name"]) == 0
    assert assert_unique(t["dim_category"], ["category_name"]) == 0
    fact = t["fact_nutrition_snapshot"]
    assert _orphans(fact, t["dim_product"], "product_sk") == 0
    assert _orphans(fact, t["dim_time"], "time_sk") == 0
    n_silver = t["silver_products"].count()
    assert t["dim_product"].count() == n_silver
    assert fact.count() == n_silver


def test_fact_within_bounds(result):
    fact = result.tables["fact_nutrition_snapshot"]
    bounds = {k: v for k, v in NUTRIENT_BOUNDS.items() if k != "completeness"}
    bad = [
        F.col(c).isNotNull() & ((F.col(c) < lo) | (F.col(c) > hi))
        for c, (lo, hi) in bounds.items()
        if c in fact.columns
    ]
    assert bad
    assert fact.filter(reduce(operator.or_, bad)).count() == 0


def test_dim_time_degenerate_sk(result):
    dt = result.tables["dim_time"]
    rows = {r["time_sk"] for r in dt.collect()}
    assert rows == {1700000000, 1700000100, 1700000200}


def test_metrics_shape(result):
    m = result.metrics
    assert set(m) == {
        "rows_in",
        "rows_out",
        "rows_rejected",
        "avg_completeness",
        "pct_nutriscore",
        "sugar_anomalies",
        "duration_sec",
    }
    assert m["sugar_anomalies"] == 0
    assert 0 <= m["avg_completeness"] <= 1


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fact_plan_has_no_product_join(result):
    """dim_product is product-cardinality, so ANY fact ⋈ dim_product
    join is a scale hazard: a forced broadcast OOMs past executor
    memory, and an unhinted shuffle join pays a full two-sided exchange.
    Since round 2 the fact derives from the same product_sk-keyed Silver
    frame as dim_product, so its plan must contain NO join operator at
    all (VERDICT #3, strengthened)."""
    spark = result.tables["fact_nutrition_snapshot"].sparkSession
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        from data_integration_openfoodfacts_spark.plans.pipeline import (
            build_gold,
        )

        gold = build_gold(result.tables["silver_products"])
        plan = _executed_plan(gold["fact_nutrition_snapshot"])
        for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert join_op not in plan
        # the SK mint (row_number default) is the plan's only wide op
        assert "Window" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_gold_analytics_product_join_not_broadcast_forced(result):
    from data_integration_openfoodfacts_spark.plans.gold_analytics import (
        _star,
    )

    spark = result.tables["fact_nutrition_snapshot"].sparkSession
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plan = _executed_plan(_star(result.tables, "product"))
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


@pytest.fixture(scope="module")
def hash_result(spark, tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("offh")), "products.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    bronze = read_openfoodfacts_csv(spark, path)
    return run_pipeline(spark, bronze, sk_strategy="hash")


def test_hash_sk_pipeline_integrity(hash_result):
    """The 100 TB SK mode: xxhash64 keys, no global sort, same star
    integrity as the row_number default."""
    t = hash_result.tables
    assert hash_result.metrics["rows_out"] == 3
    assert assert_unique(t["dim_product"], ["product_sk"]) == 0
    assert assert_unique(t["dim_brand"], ["brand_sk"]) == 0
    fact = t["fact_nutrition_snapshot"]
    assert _orphans(fact, t["dim_product"], "product_sk") == 0
    assert fact.count() == t["silver_products"].count()


def test_hash_sk_is_deterministic_hash(hash_result):
    from pyspark.sql import functions as F

    dp = hash_result.tables["dim_product"]
    mismatches = dp.filter(
        F.col("product_sk") != F.xxhash64(F.col("code"))
    ).count()
    assert mismatches == 0


def test_hash_sk_plan_has_no_global_sort(hash_result, spark):
    """row_number SK plans a single-partition window sort; the hash mode
    must not — that's the entire point of the strategy."""
    from data_integration_openfoodfacts_spark.plans.pipeline import build_gold

    silver = hash_result.tables["silver_products"]
    # (silver's own keep-latest window is partitioned by code — only a
    # SinglePartition exchange marks the global row_number sort)
    hash_plan = _executed_plan(build_gold(silver, sk_strategy="hash")["dim_product"])
    rn_plan = _executed_plan(build_gold(silver)["dim_product"])
    assert "SinglePartition" not in hash_plan
    assert "SinglePartition" in rn_plan


def test_dim_country_is_exploded_distinct(result):
    """Pins the documented divergence from the reference: dim_country is
    one row per DISTINCT country name (conformed dimension), NOT the
    reference's one-row-per-product comma-joined list with no dedup
    (pipeline_etl.ipynb:523-525)."""
    from pyspark.sql import functions as F

    dc = result.tables["dim_country"].collect()
    names = [r["country_name"] for r in dc]
    assert len(names) == len(set(names))  # deduped
    assert all("," not in n for n in names)  # split, not the raw list
    silver_countries = {
        c
        for r in result.tables["silver_products"]
        .select(F.explode("countries_en").alias("c"))
        .collect()
        for c in [r["c"]]
        if c
    }
    assert set(names) == silver_countries


def test_cached_silver_is_right_sized(spark, tmp_path):
    """AQE may coalesce the cached Silver (``session.get_spark`` sets
    ``canChangeCachedPlanOutputPartitioning``): without it the cache
    keeps ``spark.sql.shuffle.partitions`` partitions, and every Gold
    write, key check and metrics read over it runs that many tasks."""
    path = os.path.join(str(tmp_path), "products.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        res = run_pipeline(spark, read_openfoodfacts_csv(spark, path))
        silver = res.tables["silver_products"]
        n = silver.rdd.getNumPartitions()
        silver.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert n <= spark.sparkContext.defaultParallelism
