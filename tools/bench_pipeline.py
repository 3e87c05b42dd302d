"""End-to-end pipeline benchmark at the REFERENCE's own scale.

BASELINE.md: the reference ETL processes 418,676 rows x 215 cols
(~120 MB TSV) in 6.55-9.67 min on local[1] (Python scalar UDF + JDBC +
uncached recomputation). This harness generates a seeded synthetic
OpenFoodFacts-style TSV with the same row count and messiness profile
(accents, invalid tokens, out-of-bounds nutrients, duplicate codes),
runs our full Bronze->Silver->Gold pipeline including Parquet table
sinks, and prints one JSON line.

Usage: python tools/bench_pipeline.py [n_rows] [--local1]
  --local1 pins master=local[1] for an apples-to-apples single-core
  comparison with the reference.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS_DEFAULT = 418_676
TSV = "/tmp/offbench/products.tsv"

BRANDS = [
    "Côte d'Or", "Nestlé", "Président", "Läckerli", "Müller", "Acme",
    "undefined", "unknown", "Bjørn's", "Grenadine & Co", "n/a", "",
]
CATS = [
    "en:snacks-sweet-biscuits", "en:beverages-carbonated", "fr:fromages",
    "en:meals", "en:plant-based-foods", "undefined", "",
]
COUNTRIES = [
    "France", "France, Belgium", "Germany, Austria, Switzerland",
    "Spain", "United States", "n/a", "",
]
GRADES = ["a", "b", "c", "d", "e", "unknown", ""]


def gen_tsv(path: str, n: int, seed: int = 42) -> None:
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    header = (
        "code\tproduct_name\tbrands\tmain_category\tcategories_en\t"
        "categories\tcountries_en\tlast_modified_t\tnutriscore_grade\t"
        "energy-kcal_100g\tfat_100g\tsaturated-fat_100g\tsugars_100g\t"
        "salt_100g\tproteins_100g\tfiber_100g\tsodium_100g\tcompleteness"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(header + "\n")
        buf = []
        for i in range(n):
            # ~0.006% duplicate codes (the reference rejected 25/418k)
            code = str(3000000000000 + (i if rng.random() > 6e-5 else i - 1))
            name = f"Prödûct™ Nº{i} {'Spëciàl' if i % 7 == 0 else 'plain'}"
            kcal = rng.uniform(-50, 1500)  # some out-of-bounds
            row = "\t".join(
                [
                    code,
                    name,
                    rng.choice(BRANDS),
                    rng.choice(CATS),
                    rng.choice(CATS).split(":")[-1],
                    "fallback category" if i % 11 == 0 else "",
                    rng.choice(COUNTRIES),
                    str(1600000000 + rng.randrange(0, 100_000_000)),
                    rng.choice(GRADES),
                    f"{kcal:.1f}",
                    f"{rng.uniform(0, 120):.1f}",
                    f"{rng.uniform(0, 60):.1f}",
                    f"{rng.uniform(0, 120):.1f}",
                    f"{rng.uniform(0, 30):.2f}" if i % 3 else "",
                    f"{rng.uniform(0, 50):.1f}",
                    f"{rng.uniform(0, 20):.1f}",
                    f"{rng.uniform(0, 12):.2f}",
                    f"{rng.uniform(0, 1):.2f}",
                ]
            )
            buf.append(row)
            if len(buf) >= 50_000:
                f.write("\n".join(buf) + "\n")
                buf = []
        if buf:
            f.write("\n".join(buf) + "\n")


def ensure_tsv(n: int) -> None:
    """Generate the TSV iff missing or generated for a DIFFERENT row
    count (a sidecar meta records n — size heuristics silently reused
    wrong-scale files)."""
    meta = TSV + ".meta"
    if os.path.exists(TSV) and os.path.exists(meta):
        if open(meta).read().strip() == str(n):
            return
    gen_tsv(TSV, n)
    with open(meta, "w") as f:
        f.write(str(n))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else N_ROWS_DEFAULT
    local1 = "--local1" in sys.argv

    ensure_tsv(n)

    from data_integration_openfoodfacts_spark.plans.pipeline import run_pipeline
    from data_integration_openfoodfacts_spark.session import get_spark
    from data_integration_openfoodfacts_spark.sources.csv_source import (
        read_openfoodfacts_csv,
    )

    spark = get_spark(
        "bench-pipeline",
        master="local[1]" if local1 else None,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/offbench/wh"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    # multi_line=False: the synthetic TSV has no embedded newlines, so
    # the scan stays splittable (the reference forces multiLine).
    bronze = read_openfoodfacts_csv(spark, TSV, multi_line=False)
    res = run_pipeline(spark, bronze, database="offbench")
    wall = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "metric": "pipeline_e2e_wall",
                "value": round(wall, 2),
                "unit": "sec",
                "rows_in": res.metrics["rows_in"],
                "rows_out": res.metrics["rows_out"],
                "master": "local[1]" if local1 else "local[n]",
                "reference_baseline_sec": 393,
            }
        )
    )


if __name__ == "__main__":
    main()
