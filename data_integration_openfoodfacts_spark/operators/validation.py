"""Range validation (reference P4, pipeline_etl.ipynb:348-363).

Out-of-bounds values become NULL; the row is kept. Bounds rationale in
docs/data_dictionary.md:213-224 (kcal 0-1000, per-100g measures 0-100,
sodium 0-40, completeness 0-1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's nutrient bounds, data_dictionary.md:213-224.
NUTRIENT_BOUNDS: dict[str, tuple[float, float]] = {
    "energy_kcal_100g": (0.0, 1000.0),
    "fat_100g": (0.0, 100.0),
    "saturated_fat_100g": (0.0, 100.0),
    "sugars_100g": (0.0, 100.0),
    "salt_100g": (0.0, 100.0),
    "sodium_100g": (0.0, 40.0),
    "proteins_100g": (0.0, 100.0),
    "fiber_100g": (0.0, 100.0),
    "completeness": (0.0, 1.0),
}


def bounded_expr(col: Column | str, lo: float, hi: float) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when((c >= lo) & (c <= hi), c).otherwise(F.lit(None))
