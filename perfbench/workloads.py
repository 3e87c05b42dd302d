"""The benchmark's workloads: what each one prepares, sets up, runs and
checks. Every op is one call into the package's public entry points:
one ``run_pipeline`` call, or one query function plus the sink that
forces it (a noop write when timed, a collect when checked)."""

from __future__ import annotations

import contextlib
import os
import random
import re
from dataclasses import dataclass

from datagen import load_tool, write_tables, write_tsv

#: registry queries of each query mix, by key prefix
LLM_QUERIES = ["q19", "q106", "q171", "q198"]
STORE_QUERIES = ["q178", "q201"]
#: scale and seed of the generated star-schema / LLM tables. The tables
#: stand in for the engine's fixed test dataset: every run reads the same
#: tables, so runs of different seeds do the same work, and the run's
#: seed permutes the order of the query mix. The scale is held at 0.01
#: (500 documents) by the time budget; see README.md for what that
#: leaves unmeasured.
TABLE_SF = 0.01
TABLE_SEED = 42
#: rows of the generated bronze TSV in the ETL workload
ETL_ROWS = 20_000
SK_MODES = ("row_number", "hash")
GOLD_TABLES = (
    "dim_time", "dim_brand", "dim_category", "dim_country", "dim_product",
    "fact_nutrition_snapshot",
)


@dataclass
class Op:
    name: str
    kind: str  # "query" | "etl" | "gold"
    arg: str = ""


@dataclass
class Context:
    spark: object
    work: str
    tracer: object = None

    def span(self, layer: str):
        if self.tracer is None or not self.tracer.enabled:
            return contextlib.nullcontext()
        return self.tracer.span(layer)


def compare_frames(sdf, ddf) -> str | None:
    """None when the Spark and DuckDB results agree under
    ``tools/check_oracle.py``'s rules (row count, column set, dtype kind,
    sorted canonical values); else the first disagreement."""
    normalize = load_tool("check_oracle").normalize
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} duckdb={len(ddf)}"
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"cols spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}"
    kinds = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts"}
    for c in sdf.columns:
        if kinds.get(sdf[c].dtype.kind, "obj") != kinds.get(ddf[c].dtype.kind, "obj"):
            return f"dtype kind {c}: spark={sdf[c].dtype} duckdb={ddf[c].dtype}"
    if normalize(sdf) != normalize(ddf):
        return "values differ"
    return None


def dq_equal(a: dict, b: dict) -> bool:
    """Exact for counts, 1e-9 relative for float aggregates (the SK
    modes order fact rows differently, so an AVG may differ in ulps)."""
    if set(a) != set(b):
        return False
    for k, x in a.items():
        y = b[k]
        if x is None or y is None:
            if x is not y:
                return False
        elif isinstance(x, float) or isinstance(y, float):
            if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                return False
        elif x != y:
            return False
    return True


class QueryMix:
    """Registry queries over the generated tables, each checked against
    its DuckDB oracle twin from the registry's ``ORACLES``."""

    def __init__(self, prefixes: list[str]) -> None:
        self.prefixes = prefixes

    def prepare(self, ctx: Context, seed: int) -> None:
        from data_integration_openfoodfacts_spark.plans.registry import ORACLES, QUERIES

        self.data_dir = os.path.join(ctx.work, "tables")
        # all ten tables, though the mix reads fewer: the oracle
        # connection (check_oracle.duck_con) binds a view to each
        tables = write_tables(self.data_dir, TABLE_SF, TABLE_SEED)
        by_prefix = {k.split("_", 1)[0]: k for k in QUERIES}
        self._ops, self.tables = [], set()
        for key in (by_prefix[p] for p in self.prefixes):
            # the tables a query reads are those its oracle twin names
            words = set(re.findall(r"[a-z_]+", ORACLES[key].lower()))
            self.tables.update(t for t in tables if t in words)
            self._ops.append(Op(key, "query"))

    def setup(self, ctx: Context) -> None:
        """Program-side set-up: load and count, through the package's
        parquet source, every input table the mix reads."""
        from data_integration_openfoodfacts_spark.sources import parquet_source

        for t in sorted(self.tables):
            parquet_source.load_table(ctx.spark, self.data_dir, t).count()

    def ops(self) -> list[Op]:
        return self._ops

    def order(self, rng: random.Random, ops: list[Op]) -> list[Op]:
        out = list(ops)
        rng.shuffle(out)
        return out

    def run(self, ctx: Context, op: Op, collect: bool):
        from data_integration_openfoodfacts_spark.plans.registry import QUERIES

        with ctx.span("plans.queries"):
            df = QUERIES[op.name](ctx.spark, self.data_dir)
        with ctx.span("sink"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, ctx: Context, op: Op, result) -> str | None:
        from data_integration_openfoodfacts_spark.plans.registry import ORACLES

        con = load_tool("check_oracle").duck_con(self.data_dir)
        try:
            return compare_frames(result, con.execute(ORACLES[op.name]).df())
        finally:
            con.close()

    def check_timed(self, ctx: Context, op: Op, result) -> str | None:
        return None

    def collects(self, op: Op) -> bool:
        return True


class Medallion:
    """The reference's Bronze->Silver->Gold job in both surrogate-key
    modes, then the six reference analytics over the Gold it wrote."""

    def prepare(self, ctx: Context, seed: int) -> None:
        self.tsv = write_tsv(os.path.join(ctx.work, "tsv"), ETL_ROWS, seed)
        self.silver = None  # DuckDB connection holding the pipeline's Silver
        self.prev_dq = None  # (SK mode, DQ metrics) of the last pipeline run
        codes = []
        with open(self.tsv, encoding="utf-8") as f:
            next(f)
            for line in f:
                codes.append(line.split("\t", 1)[0])
        # the generator's only rejects are repeated codes (keep-latest)
        kept = len(set(codes))
        self.expected = {
            "rows_in": len(codes), "rows_out": kept,
            "rows_rejected": len(codes) - kept,
        }

    def setup(self, ctx: Context) -> None:
        """Program-side set-up: parse and count the bronze TSV."""
        from data_integration_openfoodfacts_spark.sources.csv_source import (
            read_openfoodfacts_csv,
        )

        read_openfoodfacts_csv(ctx.spark, self.tsv, multi_line=False).count()

    def ops(self) -> list[Op]:
        from data_integration_openfoodfacts_spark.plans import gold_analytics

        etl = [Op(f"run_pipeline[{m}]", "etl", arg=m) for m in SK_MODES]
        gold = [Op(name, "gold", arg=name) for name in gold_analytics.GOLD_ANALYTICS]
        return etl + gold

    def order(self, rng: random.Random, ops: list[Op]) -> list[Op]:
        """The pipeline runs first, in a fixed mode order; then the Gold
        queries in seeded order. The first pipeline run in the process,
        ``row_number``, carries the process's one-off costs (Python
        workers, codegen, first writes), as a batch job's does. A seeded
        mode order would split the runs in two groups (a cold ``hash``
        run costs more than a cold ``row_number`` one), and an untimed
        warm-up run per mode does not fit the time budget."""
        etl = [o for o in ops if o.kind == "etl"]
        gold = [o for o in ops if o.kind == "gold"]
        rng.shuffle(gold)
        return etl + gold

    def collects(self, op: Op) -> bool:
        """Pipeline runs are checked on every run from their DQ metrics;
        Gold queries are checked once from a collected result."""
        return op.kind == "gold"

    @staticmethod
    def database(mode: str) -> str:
        return f"bench_{mode}"

    def run(self, ctx: Context, op: Op, collect: bool):
        if op.kind == "etl":
            from data_integration_openfoodfacts_spark.plans.pipeline import (
                run_pipeline,
            )
            from data_integration_openfoodfacts_spark.sources.csv_source import (
                read_openfoodfacts_csv,
            )

            bronze = read_openfoodfacts_csv(ctx.spark, self.tsv, multi_line=False)
            res = run_pipeline(
                ctx.spark, bronze, database=self.database(op.arg), sk_strategy=op.arg
            )
            return {k: v for k, v in res.metrics.items() if k != "duration_sec"}
        from data_integration_openfoodfacts_spark.plans import gold_analytics

        db = self.database(SK_MODES[0]) + "_gold"
        gold = {t: ctx.spark.table(f"{db}.{t}") for t in GOLD_TABLES}
        # through the module attribute, so a traced run sees the call
        df = getattr(gold_analytics, op.arg)(gold)
        with ctx.span("sink"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, ctx: Context, op: Op, result) -> str | None:
        if op.kind == "etl":
            return self.check_timed(ctx, op, result)
        return self._check_gold(ctx, op, result)

    def check_timed(self, ctx: Context, op: Op, result) -> str | None:
        """Every pipeline run must match the DQ counts the generator
        implies, and the two SK modes must agree on every DQ metric."""
        if op.kind != "etl":
            return None
        for k, v in self.expected.items():
            if result.get(k) != v:
                return f"{k}={result.get(k)} expected {v}"
        prev, self.prev_dq = self.prev_dq, (op.arg, result)
        if prev is not None and prev[0] != op.arg and not dq_equal(prev[1], result):
            return f"SK modes disagree: {prev[1]} vs {result}"
        return None

    def _check_gold(self, ctx: Context, op: Op, result) -> str | None:
        """Each Gold query against DuckDB over the persisted Silver
        table: the registry's gold oracles (q89-q94) with their Silver
        replica swapped for the Silver the pipeline wrote (loaded into
        DuckDB once per process)."""
        from data_integration_openfoodfacts_spark.plans import gold_oracle_queries as g

        oracle = {
            "top_brands_by_ab_proportion": g.Q89_ORACLE,
            "grade_distribution_by_category": g.Q90_ORACLE,
            "avg_sugars_by_country_category": g.Q91_ORACLE,
            "nutrient_completeness_by_brand": g.Q92_ORACLE,
            "nutrition_anomalies": g.Q93_ORACLE,
            "weekly_completeness_trend": g.Q94_ORACLE,
        }[op.arg]
        if self.silver is None:
            import duckdb

            warehouse = ctx.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            silver_dir = os.path.join(
                warehouse, f"{self.database(SK_MODES[0])}_silver.db", "products"
            )
            self.silver = duckdb.connect()
            self.silver.execute(
                "CREATE TABLE pipeline_silver AS SELECT * EXCLUDE (countries_en, "
                "last_modified_t), array_to_string(countries_en, ',') AS countries_en, "
                f"last_modified_t AS lm_t FROM read_parquet('{silver_dir}/*.parquet')"
            )
        tail = oracle[len(g._SILVER_CTE):]
        sql = f"WITH silver AS (SELECT * FROM pipeline_silver)\n{tail}"
        return compare_frames(result, self.silver.execute(sql).df())


def get(name: str):
    if name == "etl_medallion":
        return Medallion()
    if name == "curation_stores":
        return QueryMix(LLM_QUERIES + STORE_QUERIES)
    raise KeyError(name)


NAMES = ("etl_medallion", "curation_stores")
