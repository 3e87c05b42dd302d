"""Driver-side fan-out of independent action chains.

Spark schedules jobs submitted from several driver threads
concurrently, so two action chains that touch disjoint stores can
overlap their cluster time. `overlap` is the one place the package
starts such threads: each thunk runs under
``pyspark.util.inheritable_thread_target(spark)``, so the jobs it
launches carry the caller's job group, ``spark.job.description`` and
session tags. Jobs launched from a bare ``ThreadPoolExecutor`` worker
carry none of them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def overlap(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run each thunk on its own driver thread and wait for all of
    them. Returns the results in argument order; when thunks raise,
    the first failure in argument order is re-raised once every thunk
    has finished."""
    # one wrapper per thunk: each call clones the caller's local
    # properties, and threads sharing one clone would clobber each
    # other's per-execution properties (spark.sql.execution.id)
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=max(1, len(targets))) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]
