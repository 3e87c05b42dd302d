"""The six reference analytics queries against real pipeline output."""

from __future__ import annotations

import os

import pytest

from data_integration_openfoodfacts_spark.plans.gold_analytics import (
    GOLD_ANALYTICS,
    nutrient_completeness_by_brand,
    top_brands_by_ab_proportion,
)
from data_integration_openfoodfacts_spark.plans.pipeline import run_pipeline
from data_integration_openfoodfacts_spark.sources.csv_source import (
    read_openfoodfacts_csv,
)
from tests.test_pipeline import HEADER, ROWS


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("offg")), "p.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return run_pipeline(spark, read_openfoodfacts_csv(spark, path)).tables


@pytest.mark.parametrize("name", sorted(GOLD_ANALYTICS))
def test_gold_query_runs(gold, name):
    df = GOLD_ANALYTICS[name](gold)
    assert df.count() >= 0 and len(df.columns) >= 2


def test_q1_counts_ab_products(gold):
    out = top_brands_by_ab_proportion(gold, min_products=1, k=10).collect()
    by_brand = {r["brand_name"]: r for r in out}
    # code 0001 kept the grade-'a' latest row for brand cote dor
    assert by_brand["cote dor"]["nb_ab"] == 1
    assert by_brand["cote dor"]["proportion_ab"] == 1.0
    assert by_brand["marque inconnue"]["nb_ab"] == 0


def test_q4_rates_bounded(gold):
    for r in nutrient_completeness_by_brand(gold).collect():
        assert 0.0 <= r["completeness_rate"] <= 1.0
