"""The medallion pipeline: Bronze -> Silver -> Gold, Spark-first.

Re-expresses the reference notebook (pipeline_etl.ipynb, stages mapped
in SURVEY.md §3.1) with the architectural fixes §4 calls for:

- one wide ``select`` per stage instead of ~15 chained ``withColumn``
  cells (keeps Catalyst analysis cheap and codegen spans wide);
- accent folding via an Arrow-batched pandas UDF, not a row-at-a-time
  Python UDF (pipeline_etl.ipynb:205-210 — its biggest perf sink);
- Silver is cached before the Gold fan-out: the reference recomputes
  the full CSV->Silver chain for every one of ~9 downstream actions
  (SURVEY.md §4 "Caching / reuse"); AQE sizes that cache like any
  other shuffle output (``session.get_spark`` lets it coalesce cached
  plans), so the Gold stages over it do not inherit 32 tiny partitions;
- surrogate keys minted in-engine (row_number over natural keys) —
  no MySQL AUTO_INCREMENT write->read-back round-trip
  (pipeline_etl.ipynb:570-571,644);
- sinks are Parquet tables (``saveAsTable``), not JDBC;
- the broken orderBy+dropDuplicates pass (pipeline_etl.ipynb:325-328)
  is intentionally NOT reproduced — keep-latest dedup happens once,
  correctly, with a deterministic tiebreaker (W1, :425-429).

Scale posture: the only wide operations are the keep-latest window
(hash shuffle on ``code``) and the dim distinct/aggregations. The small
dims (brand/category/time) broadcast into their lookup joins;
dim_product and the fact both derive from ONE product_sk-keyed Silver
frame, so the star is assembled without any fact ⋈ dim_product join —
no product-cardinality broadcast, no two-sided shuffle, at any scale.
Surrogate keys default to the deterministic ``row_number`` mint for
oracle parity; ``sk_strategy="hash"`` is the shuffle-free scale mode.
The fact table write can be partitioned by ``year(last_modified_date)``
for partition pruning at 100 TB.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_normalize import ascii_fold
from ..operators.cleaning import (
    clean_text_chain,
    extract_category_head,
    impute_with_default,
)
from ..operators.dedup import dedup_keep_latest
from ..operators.keys import add_surrogate_key
from ..operators.validation import NUTRIENT_BOUNDS, bounded_expr
from ..schemas import NUTRIENT_COLUMNS, SILVER_INPUT_COLUMNS
from ..sources.sinks import write_table

# Imputation config — defaults (including misspellings) kept verbatim
# from pipeline_etl.ipynb:268-302 for output parity.
IMPUTATION = {
    "categories_en": ("categories", "non classe"),
    "brands": (None, "marque inconnue"),
    "countries_en": (None, "pays inconue"),
    "nutriscore_grade": (None, "non classe"),
    "main_category": (None, "non classe"),
}

# Cols excluded from the aggressive clean (pipeline_etl.ipynb:251-257):
# they keep accents folded + lower/trim only, since hyphens and commas
# are semantically meaningful (category paths, country lists).
LIGHT_CLEAN_COLUMNS = {"countries_en", "main_category", "categories_en"}


def build_silver(bronze: DataFrame) -> DataFrame:
    """Bronze (all-string, schema-on-read) -> cleansed, typed Silver."""
    # P1/P2: defensive projection + hyphen rename (ipynb:160-181). The
    # existence check is the reference's schema-drift tolerance; columns
    # absent from this Bronze drop are carried as NULL so the Silver
    # schema stays fixed regardless of source drift.
    wanted = list(SILVER_INPUT_COLUMNS)
    if "categories" in bronze.columns:  # imputation fallback source
        wanted.append("categories")
    df = bronze.select(
        *[
            (
                F.col(c) if c in bronze.columns else F.lit(None).cast("string")
            ).alias(c.replace("-", "_"))
            for c in wanted
        ]
    )

    # F1-F3: text cleaning — one select, all string columns at once.
    string_cols = [
        "code",
        "product_name",
        "brands",
        "main_category",
        "categories_en",
        "countries_en",
        "nutriscore_grade",
        "categories",
    ]
    cleaned = []
    for f in df.schema.fields:
        if f.name not in string_cols:
            cleaned.append(F.col(f.name))
        elif f.name in LIGHT_CLEAN_COLUMNS or f.name == "categories":
            cleaned.append(ascii_fold(F.lower(F.trim(F.col(f.name)))).alias(f.name))
        else:
            cleaned.append(
                clean_text_chain(ascii_fold(F.col(f.name)), max_len=255).alias(f.name)
            )
    df = df.select(*cleaned)

    # F4: category head + language-prefix strip — BEFORE imputation,
    # matching the reference's cell order (:245-250 precedes :268-302):
    # 'en:undefined-foo' must reduce to 'undefined' first so the
    # invalid-token check can catch it.
    df = df.withColumn("main_category", extract_category_head("main_category"))

    # P5/P6: invalid-token NULLing + defaults (ipynb:268-302).
    imputed = []
    for f in df.schema.fields:
        if f.name in IMPUTATION:
            fallback, default = IMPUTATION[f.name]
            fb = F.col(fallback) if fallback and fallback in df.columns else None
            imputed.append(
                impute_with_default(f.name, default=default, fallback=fb).alias(f.name)
            )
        elif f.name == "categories":
            continue  # fallback source dropped after use (ipynb:302)
        else:
            imputed.append(F.col(f.name))
    df = df.select(*imputed)

    # F6/AR1: countries -> real array (kept as array — SURVEY.md AR2
    # round-trip dropped).
    df = df.withColumn("countries_en", F.split("countries_en", ",\\s*"))

    # P4 + M1-M3: numeric casts, bounds, sodium/salt + kcal->kJ, rounding
    # (ipynb:348-391) — a single select. try_cast: malformed numerics
    # become NULL (the reference ran pre-ANSI Spark 3.4 where plain cast
    # already behaved this way; ANSI-mode cast would fail the job on one
    # bad cell).
    bounded = {
        c: bounded_expr(F.col(c).try_cast("double"), *NUTRIENT_BOUNDS[c])
        for c in NUTRIENT_COLUMNS
    }
    salt = F.coalesce(bounded["salt_100g"], bounded["sodium_100g"] * 2.5)
    sodium = F.coalesce(bounded["sodium_100g"], bounded["salt_100g"] / 2.5)
    keep = [
        f.name
        for f in df.schema.fields
        if f.name not in NUTRIENT_COLUMNS and f.name != "completeness"
    ]
    df = df.select(
        *keep,
        F.round(bounded["energy_kcal_100g"], 1).alias("energy_kcal_100g"),
        F.round(bounded["energy_kcal_100g"] * 4.184, 1).alias("energy_kj_100g"),
        F.round(bounded["fat_100g"], 1).alias("fat_100g"),
        F.round(bounded["saturated_fat_100g"], 1).alias("saturated_fat_100g"),
        F.round(bounded["sugars_100g"], 1).alias("sugars_100g"),
        F.round(salt, 1).alias("salt_100g"),
        F.round(sodium, 1).alias("sodium_100g"),
        F.round(bounded["proteins_100g"], 1).alias("proteins_100g"),
        F.round(bounded["fiber_100g"], 1).alias("fiber_100g"),
        F.round(
            bounded_expr(F.col("completeness").try_cast("double"), 0.0, 1.0), 1
        ).alias("completeness"),
    )

    # P3: key filter (ipynb:432-436).
    df = df.filter(
        F.col("code").isNotNull()
        & (F.col("code") != "")
        & (F.col("code") != "null")
    )

    # D1/D2: typed time derivations (ipynb:406-412).
    df = (
        df.withColumn("last_modified_t", F.col("last_modified_t").try_cast("long"))
        .withColumn(
            "last_modified_ts",
            F.to_timestamp(F.col("last_modified_t").cast("double")),
        )
        .withColumn("last_modified_date", F.to_date("last_modified_ts"))
    )

    # W1: keep-latest dedup with deterministic tiebreak (ipynb:425-429;
    # tiebreaker added per SURVEY.md §7). The content hash makes even
    # same-(ts, name) duplicates with different payloads deterministic.
    return dedup_keep_latest(
        df,
        keys=["code"],
        order_by=[
            F.col("last_modified_t").desc_nulls_last(),
            F.col("product_name"),
            F.xxhash64(*[c for c in df.columns if c != "code"]),
        ],
    )


def build_dim_country(
    df: DataFrame,
    countries_col: str = "countries_en",
    sk_strategy: str = "row_number",
) -> DataFrame:
    """dim_country: explode the country array to DISTINCT names, one row
    per country (+ surrogate key).

    DELIBERATE divergence from the reference, which writes one
    dim_country row PER PRODUCT holding the full comma-joined list with
    no dedup (vincent_valentin/pipeline_etl.ipynb:523-525) — that shape
    can't serve as a conformed dimension (no FK from fact, unbounded
    duplication). The exploded-distinct form is the star-schema-correct
    reading of the same source column; pinned by
    tests/test_pipeline.py::test_dim_country_is_exploded_distinct and
    oracle-checked by q45 (plans/etl_queries.py)."""
    return add_surrogate_key(
        df.select(F.explode(countries_col).alias("country_name"))
        .filter(F.col("country_name").isNotNull() & (F.col("country_name") != ""))
        .distinct(),
        "country_sk",
        ["country_name"],
        strategy=sk_strategy,
    )


def build_gold(
    silver: DataFrame, sk_strategy: str = "row_number"
) -> dict[str, DataFrame]:
    """Silver -> star schema. Returns {table_name: DataFrame}.

    ``sk_strategy`` selects how surrogate keys are minted
    (``operators/keys.py``): ``row_number`` is fully deterministic and
    the oracle-test default but plans a single-partition global sort —
    fine for the small dims, a scale-killer for the product-cardinality
    dim_product at 100 TB; ``hash`` (xxhash64 of the natural key) is
    shuffle-free and embarrassingly parallel — the scale mode. Pair
    ``hash`` with the ``assert_unique`` check ``run_pipeline`` performs.
    """
    # dim_time: degenerate SK == last_modified_t (data_dictionary.md:263-267).
    dim_time = (
        silver.select("last_modified_t")
        .distinct()
        .select(
            F.col("last_modified_t").alias("time_sk"),
            F.from_unixtime("last_modified_t").cast("date").alias("date"),
        )
        .select(
            "time_sk",
            "date",
            F.year("date").cast("long").alias("year"),
            F.month("date").cast("long").alias("month"),
            F.dayofmonth("date").cast("long").alias("day"),
            F.weekofyear("date").cast("long").alias("week"),
            F.weekofyear("date").cast("long").alias("iso_week"),
        )
    )

    dim_brand = add_surrogate_key(
        silver.select(F.substring("brands", 1, 500).alias("brand_name"))
        .filter(F.col("brand_name").isNotNull() & (F.col("brand_name") != ""))
        .distinct(),
        "brand_sk",
        ["brand_name"],
        strategy=sk_strategy,
    )

    # Deterministic parent survivor: dropDuplicates picks a partition-
    # layout-dependent row, which would make dim_category differ between
    # runs whenever one category has several parents. min() is stable.
    dim_category = add_surrogate_key(
        silver.select(
            F.substring("main_category", 1, 500).alias("category_name"),
            F.substring("categories_en", 1, 500).alias("parent_category_name"),
        )
        .filter(F.col("category_name").isNotNull() & (F.col("category_name") != ""))
        .groupBy("category_name")
        .agg(F.min("parent_category_name").alias("parent_category_name")),
        "category_sk",
        ["category_name"],
        strategy=sk_strategy,
    )

    dim_country = build_dim_country(silver, sk_strategy=sk_strategy)

    # Mint product_sk ONCE on the deduped Silver (one row per ``code``
    # after the W1 keep-latest pass), then derive BOTH dim_product and
    # the fact from the same keyed frame. This removes the former
    # fact ⋈ dim_product join outright — the round-1 plan either forced
    # a product-cardinality broadcast (OOM at scale) or, without the
    # hint, paid a full two-sided shuffle at every scale. No join means
    # neither failure mode exists; the SK mapping is identical because
    # row_number over the same unique ``code`` set yields the same keys.
    keyed = add_surrogate_key(silver, "product_sk", ["code"], strategy=sk_strategy)

    # dim_product: lookup joins J1/J2 — dims are genuinely small
    # (distinct brands/categories, orders of magnitude below product
    # cardinality), so broadcast hints are safe and correct here.
    dim_product = (
        keyed.join(
            F.broadcast(dim_brand),
            keyed["brands"] == dim_brand["brand_name"],
            "left",
        )
        .join(
            F.broadcast(dim_category),
            keyed["main_category"] == dim_category["category_name"],
            "left",
        )
        .select(
            "code",
            "product_name",
            "brand_sk",
            F.col("category_sk").alias("primary_category_sk"),
            F.col("countries_en").alias("countries_multi_name"),
            "product_sk",
        )
    )

    # fact: J3 snapshot measures keyed by the same product_sk — a narrow
    # projection of the keyed Silver, no join (see above).
    fact = keyed.select(
        "product_sk",
        F.col("last_modified_t").alias("time_sk"),
        *NUTRIENT_COLUMNS,
        "nutriscore_grade",
        F.col("completeness").alias("completeness_score"),
    )

    return {
        "dim_time": dim_time,
        "dim_brand": dim_brand,
        "dim_category": dim_category,
        "dim_country": dim_country,
        "dim_product": dim_product,
        "fact_nutrition_snapshot": fact,
    }


def _save_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Overwrite ``table``, tolerating a leftover location from a
    previous session: the default in-memory catalog forgets tables on
    restart while their warehouse directories persist, and saveAsTable
    then refuses the location. Registering first via DROP + path cleanup
    keeps re-runs idempotent."""

    def write() -> None:
        write_table(df, table, partition_by=partition_by, bucket_by=bucket_by)

    try:
        write()
    except Exception as e:  # noqa: BLE001
        if "LOCATION_ALREADY_EXISTS" not in str(e):
            raise
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        db, _, name = table.partition(".")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{db}.db/{name}")
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        fs.delete(path, True)
        write()


@dataclass
class PipelineResult:
    metrics: dict = field(default_factory=dict)
    tables: dict[str, DataFrame] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    bronze: DataFrame,
    database: str | None = None,
    partition_fact_by_year: bool = False,
    analyze_tables: bool = False,
    sk_strategy: str = "row_number",
    bucket_fact_buckets: int | None = None,
) -> PipelineResult:
    """Full Bronze->Gold run. If ``database`` is given, persists Silver +
    Gold as Parquet tables ``<database>_silver.products`` /
    ``<database>_gold.<dim|fact>``; otherwise keeps them as cached
    DataFrames (test mode).

    ``sk_strategy="hash"`` is the 100 TB mode: surrogate keys become
    shuffle-free xxhash64 mints (no global sort), and every minted key
    is verified unique in-run (``assert_unique``) since hash keys are
    probabilistic — a collision fails the run instead of silently
    corrupting the star schema.

    ``bucket_fact_buckets`` buckets the persisted fact AND dim_product
    by product_sk: every later product-grain join or aggregation over
    the stored gold tables then reads pre-shuffled buckets instead of
    exchanging the fact — the recurring-workload amortization a 100 TB
    gold layer lives on (one shuffle at write time, zero per query).
    Plan-pinned by tests/test_plan_shapes.py::
    test_bucketed_gold_fact_joins_and_aggs_without_exchange.

    Metrics parity with pipeline_etl.ipynb:708-717, computed in ONE
    aggregation pass over the fact instead of 5 separate actions.
    """
    t0 = time.perf_counter()
    rows_in = bronze.count()

    silver = build_silver(bronze).cache()
    rows_out = silver.count()

    gold = build_gold(silver, sk_strategy=sk_strategy)

    if sk_strategy == "hash":
        from ..operators.dq import assert_unique

        for name, sk in [
            ("dim_brand", "brand_sk"),
            ("dim_category", "category_sk"),
            ("dim_country", "country_sk"),
            ("dim_product", "product_sk"),
        ]:
            dupes = assert_unique(gold[name], [sk])
            if dupes:
                raise RuntimeError(
                    f"hash surrogate-key collision: {name}.{sk} has "
                    f"{dupes} duplicated key groups"
                )

    if database:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}_silver")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}_gold")
        _save_table(spark, silver, f"{database}_silver.products")
        for name, df in gold.items():
            # At 100 TB the fact is partitioned by snapshot year so the
            # weekly/seasonal analytics (Q6-style) prune whole years of
            # files before the scan starts.
            part_cols = None
            if partition_fact_by_year and name == "fact_nutrition_snapshot":
                df = df.withColumn(
                    "snapshot_year",
                    F.year(F.from_unixtime("time_sk").cast("date")).cast("int"),
                )
                part_cols = ["snapshot_year"]
            bucket = None
            if bucket_fact_buckets and name in (
                "fact_nutrition_snapshot",
                "dim_product",
            ):
                bucket = (bucket_fact_buckets, ["product_sk"])
            _save_table(spark, df, f"{database}_gold.{name}", part_cols, bucket)
        if analyze_tables:
            # Feed the cost-based optimizer (join reordering, broadcast
            # decisions from real sizes — SURVEY §4 "Join reordering").
            spark.sql(
                f"ANALYZE TABLE {database}_silver.products COMPUTE STATISTICS"
            )
            for name in gold:
                spark.sql(
                    f"ANALYZE TABLE {database}_gold.{name} COMPUTE STATISTICS"
                )
        gold = {
            name: spark.table(f"{database}_gold.{name}") for name in gold
        }

    fact = gold["fact_nutrition_snapshot"]
    m = fact.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("completeness_score").alias("avg_completeness"),
        # try_divide: NULL (not an ANSI error) on an empty fact table
        F.try_divide(
            F.count(F.col("nutriscore_grade")), F.count(F.lit(1))
        ).alias("pct_nutriscore"),
        F.sum((F.col("sugars_100g") > 100).cast("long")).alias("sugar_anomalies"),
    ).first()

    metrics = {
        "rows_in": rows_in,
        "rows_out": rows_out,
        "rows_rejected": rows_in - rows_out,
        "avg_completeness": m["avg_completeness"],
        "pct_nutriscore": m["pct_nutriscore"],
        "sugar_anomalies": m["sugar_anomalies"] or 0,
        "duration_sec": round(time.perf_counter() - t0, 2),
    }
    tables = {"silver_products": silver, **gold}
    return PipelineResult(metrics=metrics, tables=tables)
