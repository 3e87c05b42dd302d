"""`concurrency.overlap`: the one driver-side fan-out helper. Pins its
result order, its failure contract (every thunk finishes, the first
failure in argument order is raised), and the reason it exists: jobs
launched inside its threads keep the caller's job group and job
description, while jobs from a bare ``ThreadPoolExecutor`` lose them."""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from data_integration_openfoodfacts_spark.concurrency import overlap

_TAG_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextlib.contextmanager
def _job_group(sc, group: str, description: str):
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for key in _TAG_KEYS:
            sc.setLocalProperty(key, None)


def _group_jobs(sc, group: str) -> list[int]:
    # job-start events reach the status store through the async
    # listener bus; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _one_job(sc):
    return lambda: sc.parallelize(range(8), 2).count()


def test_results_in_argument_order(spark):
    def later(v, delay):
        def run():
            time.sleep(delay)
            return v

        return run

    # the slowest thunk comes first: order is by argument, not finish
    got = overlap(spark, later("a", 0.3), later("b", 0.0), later("c", 0.1))
    assert got == ["a", "b", "c"]
    assert overlap(spark) == []


def test_all_thunks_finish_and_first_failure_in_argument_order_raises(spark):
    done: list[str] = []
    lock = threading.Lock()

    def ok(name, delay):
        def run():
            time.sleep(delay)
            with lock:
                done.append(name)

        return run

    def fail(exc, delay):
        def run():
            time.sleep(delay)
            raise exc

        return run

    with pytest.raises(ValueError, match="first"):
        overlap(
            spark,
            ok("head", 0.1),
            # raises LATER in time than the KeyError but comes first
            # in argument order
            fail(ValueError("first"), 0.2),
            fail(KeyError("second"), 0.0),
            ok("tail", 0.4),
        )
    assert sorted(done) == ["head", "tail"]


def test_jobs_keep_caller_group_and_description(spark):
    sc = spark.sparkContext
    group = f"overlap-{uuid.uuid4().hex}"
    with _job_group(sc, group, "phase:overlap-test"):
        counts = overlap(spark, _one_job(sc), _one_job(sc), _one_job(sc))
        # the caller's own properties are untouched by the threads
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    assert counts == [8, 8, 8]
    jobs = _group_jobs(sc, group)
    assert len(jobs) == 3
    store = sc._jsc.sc().statusStore()
    for jid in jobs:
        desc = store.job(int(jid)).description()
        assert desc.isDefined() and desc.get() == "phase:overlap-test"


def test_bare_pool_threads_lose_the_caller_group(spark):
    """Why the helper exists: the same fan-out through a plain
    ``ThreadPoolExecutor`` launches its jobs with no group at all."""
    sc = spark.sparkContext
    group = f"bare-{uuid.uuid4().hex}"
    with _job_group(sc, group, "phase:bare-pool"):
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(_one_job(sc)) for _ in range(3)]
        assert [f.result() for f in futures] == [8, 8, 8]
    assert _group_jobs(sc, group) == []
