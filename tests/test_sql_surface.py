"""The six analytics queries written as Spark SQL over temp views — the
way the reference runs them (inside MySQL; sql/requetes_analytiques.sql)
— must agree row-for-row with the DataFrame plans in the registry.

Dialect translations from MySQL:
- JSON_TABLE lateral unnest  -> LATERAL VIEW explode
- boolean arithmetic         -> explicit CAST(bool AS BIGINT)
- COUNT(DISTINCT CASE ...)   -> same spelling, NULLs ignored identically
"""

from __future__ import annotations

import pytest

from data_integration_openfoodfacts_spark.plans.registry import QUERIES
from data_integration_openfoodfacts_spark.sources.parquet_source import (
    TABLES,
    load_table,
)
from tests.conftest import SF_DIR

SQL_QUERIES: dict[str, str] = {
    "q1_brand_return_ratio": """
        SELECT brand, nb_parts, nb_returned,
               CAST(nb_returned AS DOUBLE) / nb_parts AS return_ratio
        FROM (
          SELECT p.p_brand AS brand,
                 COUNT(DISTINCT p.p_partkey) AS nb_parts,
                 COUNT(DISTINCT CASE WHEN l.l_returnflag = 'R'
                                     THEN p.p_partkey END) AS nb_returned
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand
          HAVING COUNT(DISTINCT p.p_partkey) >= 5
        )
        ORDER BY return_ratio DESC, brand ASC
        LIMIT 10
    """,
    "q2_orders_by_geo_status": """
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               o.o_orderstatus AS status, COUNT(*) AS nb_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name, o.o_orderstatus
    """,
    "q3_discount_by_name_word": """
        SELECT name_word, COUNT(*) AS nb_lines,
               CAST(SUM(CAST(l.l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS avg_discount
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        LATERAL VIEW explode(split(p.p_name, ' ')) w AS name_word
        GROUP BY name_word
    """,
    "q4_brand_completeness": """
        SELECT p_brand AS brand, COUNT(*) AS nb_parts,
               CAST(SUM(CAST(p_size > 25 AS BIGINT)
                        + CAST(p_retailprice > 1500 AS BIGINT)
                        + CAST(p_name LIKE '%a%' AS BIGINT)) AS DOUBLE)
                 / (3 * COUNT(*)) AS completeness_rate
        FROM part
        GROUP BY p_brand
    """,
    "q5_anomaly_scan": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_returnflag
        FROM lineitem
        WHERE l_extendedprice > 90000 OR l_quantity >= 49
    """,
    "q6_weekly_avg_price": """
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
               CAST(WEEKOFYEAR(o_orderdate) AS BIGINT) AS iso_week,
               COUNT(*) AS nb_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS avg_price
        FROM orders
        GROUP BY YEAR(o_orderdate), WEEKOFYEAR(o_orderdate)
    """,
}


@pytest.mark.parametrize("name", sorted(SQL_QUERIES))
def test_sql_matches_dataframe(spark, name):
    for t in TABLES:
        load_table(spark, SF_DIR, t).createOrReplaceTempView(t)
    got = spark.sql(SQL_QUERIES[name])
    want = QUERIES[name](spark, SF_DIR)
    assert sorted(got.columns) == sorted(want.columns)
    g = sorted(map(tuple, got.select(*sorted(got.columns)).collect()))
    w = sorted(map(tuple, want.select(*sorted(want.columns)).collect()))
    assert g == w
