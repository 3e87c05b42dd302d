"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo ``Sevlac/data-integration-openfoodfacts``.

The reference (see SURVEY.md) is a Bronze->Silver->Gold medallion ETL over
the OpenFoodFacts product dump plus six OLAP queries that run in MySQL.
This package re-expresses every operator Spark-first:

- ``session``    : tuned SparkSession factory (UTC, AQE, Arrow).
- ``storage``    : how persisted stores commit (one create-only log
                   per store, directory swaps).
- ``sources``    : CSV / Parquet readers and table sinks (replaces JDBC).
- ``functions``  : text normalization (the reference's only UDF), text
                   analysis, and vector math helpers.
- ``operators``  : cleaning, validation, dedup, surrogate keys, DQ checks,
                   similarity search, and the persisted ledgers.
- ``plans``      : the query registry + the medallion pipeline runner.
- ``streaming``  : Structured Streaming windows, sessions and the stream
                   screens over persisted stores (reference's documented
                   future CDC mode, architecture_notes.md:263-331).
- ``multimodal`` : codec-free operators over opaque binary payloads.

Every module is reached by a registry query, the pipeline, the CLI or
the bench entry points (``tests/test_package_lint.py``).

Everything is public PySpark DataFrame/SQL API; no custom Catalyst rules
are needed (SURVEY.md §4).
"""

__version__ = "0.1.0"
