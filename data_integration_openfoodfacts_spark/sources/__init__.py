from .csv_source import read_openfoodfacts_csv
from .parquet_source import TABLES, load_events, load_table

__all__ = [
    "read_openfoodfacts_csv",
    "TABLES",
    "load_table",
    "load_events",
]
