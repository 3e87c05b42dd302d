"""SparkSession factory.

The reference bootstraps ``local[1]`` with worker reuse disabled
(pipeline_etl.ipynb:28,64-73) — both anti-patterns we drop. We pin:

- UTC session timezone (date math parity across engines; SURVEY.md §7
  "Timezone-sensitive date math"),
- AQE on (runtime coalesce / skew-join / broadcast demotion),
- AQE may re-partition cached plans
  (``canChangeCachedPlanOutputPartitioning``; Spark 4.1 defaults it
  off): otherwise a cached frame keeps ``spark.sql.shuffle.partitions``
  partitions, and the medallion pipeline's cached 20k-row Silver split
  every Gold write, key check and metrics read into 32 tiny tasks and
  wrote each table as 32 files,
- Arrow on (pandas UDFs are the sanctioned Python escape hatch),
- shuffle partitions sized for the local test harness; on a real cluster
  AQE coalesces from a higher initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data-integration-openfoodfacts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Smaller Arrow batches: the pair-join pandas UDFs carry two
        # 64-float arrays per row, and 10k-row default batches x 32
        # threads produce ~200MB allocation bursts whose GC stalls
        # showed up as 2-5x run-to-run variance on q26/q43 in-suite.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MiB split targets: big enough to amortize task overhead,
        # small enough that a task's working set stays in executor
        # memory at 100 TB inputs (SURVEY §4 "Shuffle/partitioning").
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
