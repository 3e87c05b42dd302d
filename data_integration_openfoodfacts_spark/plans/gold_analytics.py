"""The six reference analytics queries over the ACTUAL OpenFoodFacts
gold star schema produced by ``plans/pipeline.py`` — faithful
translations of ``sql/requetes_analytiques.sql:1-100`` (the testdata
variants in ``analytics.py`` exercise the same operator shapes against
the DuckDB oracle; these run against pipeline output).

Each function takes the ``gold`` table dict from
``run_pipeline(...).tables`` and returns a DataFrame. MySQL dialect
translations per SURVEY.md §3.2: JSON_TABLE -> explode, boolean
arithmetic -> explicit casts, COUNT(DISTINCT CASE) -> same spelling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import NUTRIENT_COLUMNS


def _star(t: dict[str, DataFrame], *dims: str) -> DataFrame:
    fact = t["fact_nutrition_snapshot"]
    df = fact
    if "product" in dims:
        # dim_product is product-cardinality (one row per fact row) —
        # never broadcast-force it; AQE broadcasts while small, sorts and
        # merges once it isn't. The genuinely small dims below keep hints.
        df = df.join(t["dim_product"], "product_sk")
    if "brand" in dims:
        df = df.join(F.broadcast(t["dim_brand"]), "brand_sk")
    if "category" in dims:
        # INNER like the reference Q2/Q3 (requetes_analytiques.sql
        # joins dim_category without LEFT); with main_category imputed
        # to 'non classe', every product has a category row anyway.
        df = df.join(
            F.broadcast(t["dim_category"]),
            df["primary_category_sk"] == t["dim_category"]["category_sk"],
        )
    if "time" in dims:
        df = df.join(F.broadcast(t["dim_time"]), "time_sk")
    return df


def top_brands_by_ab_proportion(
    t: dict[str, DataFrame], min_products: int = 10, k: int = 10
) -> DataFrame:
    """Q1 (requetes_analytiques.sql:1-16): top-k brands by share of
    distinct products rated nutriscore a/b.

    The reference's ``WHERE nutriscore_grade IS NOT NULL`` (:12) is
    omitted here (and in Q2): Silver imputation coalesces NULL grades
    to 'non classe', so the filter is a no-op by invariant — pinned by
    tests/test_gold_oracle.py::test_silver_nutriscore_never_null and by
    the q89/q90 oracles, which KEEP the reference filter and would
    hash-mismatch if imputation ever regressed."""
    j = _star(t, "product", "brand")
    agg = j.groupBy("brand_name").agg(
        F.countDistinct("product_sk").cast("long").alias("nb_products"),
        F.countDistinct(
            F.when(F.col("nutriscore_grade").isin("a", "b"), F.col("product_sk"))
        )
        .cast("long")
        .alias("nb_ab"),
    )
    return (
        agg.filter(F.col("nb_products") >= min_products)
        .withColumn(
            "proportion_ab",
            F.col("nb_ab").cast("double") / F.col("nb_products"),
        )
        .orderBy(F.desc("proportion_ab"), F.asc("brand_name"))
        .limit(k)
    )


def grade_distribution_by_category(t: dict[str, DataFrame]) -> DataFrame:
    """Q2 (:18-34): product counts by (parent category, category, grade)."""
    j = _star(t, "product", "category")
    return (
        j.groupBy(
            "parent_category_name", "category_name", "nutriscore_grade"
        )
        .agg(F.count(F.lit(1)).alias("nb_products"))
        .orderBy("parent_category_name", "category_name", "nutriscore_grade")
    )


def avg_sugars_by_country_category(t: dict[str, DataFrame]) -> DataFrame:
    """Q3 (:36-52): average sugars by (exploded country, category) — the
    JSON_TABLE lateral unnest becomes a native array explode."""
    j = _star(t, "product", "category").filter(
        F.col("sugars_100g").isNotNull()
    )
    exploded = j.select(
        F.explode("countries_multi_name").alias("country"),
        "category_name",
        "sugars_100g",
    )
    return (
        exploded.groupBy("country", "category_name")
        .agg(
            F.count(F.lit(1)).alias("nb_products"),
            F.avg("sugars_100g").alias("avg_sugars"),
        )
        .orderBy("country", "category_name")
    )


def nutrient_completeness_by_brand(t: dict[str, DataFrame]) -> DataFrame:
    """Q4 (:54-73): per-brand completeness rate — boolean sum over the 8
    nutrient columns / 8, with explicit int casts (MySQL treats booleans
    as 0/1 implicitly; Spark does not)."""
    j = _star(t, "product", "brand")
    filled = sum(
        (F.col(c).isNotNull().cast("long") for c in NUTRIENT_COLUMNS),
        F.lit(0),
    )
    return (
        j.groupBy("brand_name")
        .agg(
            F.count(F.lit(1)).alias("nb_rows"),
            (
                F.sum(filled).cast("double")
                / (len(NUTRIENT_COLUMNS) * F.count(F.lit(1)))
            ).alias("completeness_rate"),
        )
        .orderBy(F.desc("completeness_rate"), F.asc("brand_name"))
    )


def nutrition_anomalies(t: dict[str, DataFrame]) -> DataFrame:
    """Q5 (:75-90): products with extreme salt or sugars, with brand
    attribution (the reference selects brand_name)."""
    j = _star(t, "product", "brand")
    return j.filter(
        (F.col("salt_100g") > 25) | (F.col("sugars_100g") > 80)
    ).select(
        "code", "product_name", "brand_name", "salt_100g", "sugars_100g"
    )


def weekly_completeness_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Q6 (:92-100): average completeness score by (year, iso_week)."""
    j = _star(t, "time")
    return (
        j.groupBy("year", "iso_week")
        .agg(
            F.count(F.lit(1)).alias("nb_snapshots"),
            F.avg("completeness_score").alias("avg_completeness"),
        )
        .orderBy("year", "iso_week")
    )


GOLD_ANALYTICS = {
    "top_brands_by_ab_proportion": top_brands_by_ab_proportion,
    "grade_distribution_by_category": grade_distribution_by_category,
    "avg_sugars_by_country_category": avg_sugars_by_country_category,
    "nutrient_completeness_by_brand": nutrient_completeness_by_brand,
    "nutrition_anomalies": nutrition_anomalies,
    "weekly_completeness_trend": weekly_completeness_trend,
}
