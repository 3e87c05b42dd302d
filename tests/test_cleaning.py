"""Unit tests for cleaning/normalization operators.

Golden vectors come from the reference docs
(quality_report.md:73-79 normalization examples; data_dictionary.md
bounds/imputation specs) — cited in SURVEY.md §5.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.functions.text_normalize import (
    ascii_fold,
)
from data_integration_openfoodfacts_spark.operators.cleaning import (
    clean_text_chain,
    extract_category_head,
    impute_with_default,
    valid_expr,
)


def _one(spark, value, expr):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr.alias("out")).first()["out"]


def _silver_text(col):
    """The pipeline's Silver text chain: accent-fold, then clean."""
    return clean_text_chain(ascii_fold(F.col(col)))


def test_ascii_fold_reference_golden(spark):
    # quality_report.md:73-79: "Côte d'Or™ Chocolat Noir 70%" -> normalized
    got = _one(spark, "Côte d'Or™ Chocolat Noir 70%", _silver_text("v"))
    assert got == "cote dortm chocolat noir 70"
    # NFD cannot decompose ø, so the reference's ascii-ignore drops it
    assert _one(spark, "smørrebrød", ascii_fold(F.col("v"))) == "smrrebrd"


def test_ascii_fold_plain_passthrough(spark):
    assert _one(spark, "Plain Name 12", _silver_text("v")) == "plain name 12"


def test_ascii_fold_null(spark):
    assert _one(spark, None, _silver_text("v")) is None


def test_clean_text_chain_collapses_whitespace(spark):
    got = _one(spark, "  A!!b   c?? ", clean_text_chain("v"))
    assert got == "ab c"


def test_clean_text_chain_truncates(spark):
    got = _one(spark, "x" * 300, clean_text_chain("v", max_len=255))
    assert len(got) == 255


def test_valid_expr_nulls_placeholder_tokens(spark):
    for bad in ["undefined", "NULL", "Unknown", "none", "N/A", ""]:
        assert _one(spark, bad, valid_expr("v")) is None
    assert _one(spark, "ok", valid_expr("v")) == "ok"


def test_impute_with_default_chain(spark):
    df = spark.createDataFrame(
        [("undefined", "fallback"), (None, "n/a"), ("main", "x")],
        ["a", "b"],
    )
    out = [
        r["out"]
        for r in df.select(
            impute_with_default("a", default="dflt", fallback="b").alias("out")
        ).collect()
    ]
    assert out == ["fallback", "dflt", "main"]


def test_extract_category_head(spark):
    # pipeline_etl.ipynb:245-250: first hyphen segment, language prefix stripped
    assert _one(spark, "en:snacks-sweet-biscuits", extract_category_head("v")) == "snacks"
    assert _one(spark, "beverages", extract_category_head("v")) == "beverages"


def test_pushdown_filter_reaches_scan(spark):
    """Filters on a parquet scan must appear as PushedFilters (SURVEY §4)."""
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = (
        df.filter(F.col("l_quantity") > 40)
        .select("l_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
