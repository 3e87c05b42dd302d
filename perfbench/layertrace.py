"""Per-layer tracing for the benchmark's traced run.

Layers are package modules. ``Tracer.install`` replaces every public
function of each layer module with a wrapper, in every loaded package
namespace that holds a reference to it, so calls made through
``from .x import f`` are traced too. A wrapper keeps a thread-local
span stack (self time = span time minus child spans) and tags the
Spark jobs its thread launches with the layer name through the
thread-local ``spark.jobGroup.id`` property. Jobs launched from threads
that never set the property (the package's ``ThreadPoolExecutor``
workers) carry no group and count as ``unattributed``.

``EngineReader`` reads finished jobs and their stages from Spark's
status store right after each op, before the store's 1,000-job
retention can drop them.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "data_integration_openfoodfacts_spark"

#: layer name -> package module whose public functions form the layer
LAYER_MODULES = {
    "session": "session",
    "sources.csv_source": "sources.csv_source",
    "sources.parquet_source": "sources.parquet_source",
    "plans.pipeline": "plans.pipeline",
    "plans.gold_analytics": "plans.gold_analytics",
    "operators.similarity": "operators.similarity",
    "operators.similarity_dedup": "operators.similarity_dedup",
    "operators.clustering": "operators.clustering",
    "multimodal.binary_ops": "multimodal.binary_ops",
    "operators.graph": "operators.graph",
    "operators.component_ledger": "operators.component_ledger",
    "operators.bucketed_ledger": "operators.bucketed_ledger",
    "streaming.counting_store": "streaming.counting_store",
}
#: layers the harness opens itself: the registry query function and
#: the harness's own sink (noop write or collect)
QUERY_LAYER = "plans.queries"
SINK_LAYER = "sink"
UNATTRIBUTED = "unattributed"
LAYERS = (
    list(LAYER_MODULES)[:5] + [QUERY_LAYER] + list(LAYER_MODULES)[5:]
    + [SINK_LAYER, UNATTRIBUTED]
)
COUNTERS = ("calls", "self_s", "jobs", "tasks", "cpu_s", "run_s", "shuffle_bytes")
ENGINE = (
    "job_active_frac", "driver_gap_s", "single_task_cpu_stages",
    "output_bytes", "spill_bytes",
)
GROUP_PROP = "spark.jobGroup.id"
UNITS = {
    "calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
    "cpu_s": "s", "run_s": "s", "shuffle_bytes": "bytes",
    "job_active_frac": "fraction", "driver_gap_s": "s",
    "single_task_cpu_stages": "count", "output_bytes": "bytes",
    "spill_bytes": "bytes", "unattributed_job_frac": "fraction", "wall_s": "s",
    "peak_rss_mb": "MB",
}


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its last name part."""
    return UNITS[name.rsplit(".", 1)[1]]


def per_layer_names() -> list[str]:
    """Every per-layer metric name the traced run reports."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"engine.{e}" for e in ENGINE]
    return names + [
        "engine.peak_rss_mb", "trace.unattributed_job_frac", "trace.wall_s",
    ]


class Tracer:
    """Span bookkeeping plus job tagging for the wrapped layers."""

    def __init__(self) -> None:
        self.enabled = False
        self.local = threading.local()
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._replaced: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        stack = getattr(self.local, "stack", None)
        if stack is None:
            stack = self.local.stack = []
        return stack

    def span(self, layer: str):
        return _Span(self, layer)

    @staticmethod
    def _context():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped_layer__ = layer
        return traced

    def install(self) -> int:
        """Wrap the public functions of every layer module; returns the
        number of namespace bindings replaced."""
        import importlib

        originals: dict[int, tuple[str, object]] = {}
        for layer, rel in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    originals[id(fn)] = (layer, fn)
        wrapped = {key: self.wrap(layer, fn) for key, (layer, fn) in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, value in list(vars(mod).items()):
                w = wrapped.get(id(value))
                if w is not None and originals[id(value)][1] is value:
                    setattr(mod, name, w)
                    self._replaced.append((mod, name, value))
        return len(self._replaced)

    def uninstall(self) -> None:
        for mod, name, original in self._replaced:
            setattr(mod, name, original)
        self._replaced.clear()

    def reset(self) -> None:
        self.calls.clear()
        self.self_s.clear()


class _Span:
    def __init__(self, tracer: Tracer, layer: str) -> None:
        self.t = tracer
        self.layer = layer

    def __enter__(self):
        stack = self.t._stack()
        # no context yet while the session layer builds it
        self.sc = self.t._context()
        if self.sc is not None:
            self.prev_group = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, self.layer)
        self.child_s = 0.0
        stack.append(self)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        dt = time.perf_counter() - self.t0
        stack = self.t._stack()
        stack.pop()
        if stack:
            stack[-1].child_s += dt
        if self.sc is not None and self.sc is self.t._context():
            self.sc.setLocalProperty(GROUP_PROP, self.prev_group)
        with self.t._lock:
            self.t.calls[self.layer] += 1
            self.t.self_s[self.layer] += dt - self.child_s


class EngineReader:
    """Reads jobs and stages that finished since the last call from
    ``SparkContext.statusStore()`` (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc) -> None:
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.last_job = self._newest_job_id()

    def _newest_job_id(self) -> int:
        it = self.store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs with ids above the last read, oldest first. Each job lists
        only the stages it ran (skipped stages are omitted)."""
        self.drain()
        jobs = []
        it = self.store.jobsList(None).iterator()  # newest first
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self.last_job:
                break
            group = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            stages = []
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage = self._stage(sit.next())
                if stage is not None:
                    stages.append(stage)
            jobs.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": stages,
            })
        if jobs:
            self.last_job = jobs[0]["id"]
        jobs.reverse()
        return jobs

    def _stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            s = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: nothing to count
            return None
        if str(s.status()) == "SKIPPED" or s.numCompleteTasks() == 0:
            return None
        return {
            "id": sid,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
            "output_bytes": s.outputBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class LayerTotals:
    """Per-layer and engine counters summed over the traced passes."""

    def __init__(self) -> None:
        self.layer = {l: dict.fromkeys(COUNTERS, 0.0) for l in LAYERS}
        self.engine = dict.fromkeys(ENGINE, 0.0)
        self.jobs = 0
        self.unattributed_jobs = 0
        self.wall = 0.0
        self.active = 0.0
        self.seen_stages: set[int] = set()

    def add_jobs(self, jobs: list[dict]) -> None:
        for job in jobs:
            layer = job["group"] if job["group"] in self.layer else UNATTRIBUTED
            self.jobs += 1
            self.unattributed_jobs += layer == UNATTRIBUTED
            row = self.layer[layer]
            row["jobs"] += 1
            for s in job["stages"]:
                # a stage reused by a later job is counted once, for the
                # job that ran it
                if s["id"] in self.seen_stages:
                    continue
                self.seen_stages.add(s["id"])
                row["tasks"] += s["tasks"]
                row["cpu_s"] += s["cpu_s"]
                row["run_s"] += s["run_s"]
                row["shuffle_bytes"] += s["shuffle_bytes"]
                self.engine["output_bytes"] += s["output_bytes"]
                self.engine["spill_bytes"] += s["spill_bytes"]
                if s["tasks"] == 1 and s["cpu_s"] > 0.5:
                    self.engine["single_task_cpu_stages"] += 1

    def add_op(self, wall: float, active: float) -> None:
        """One op's wall and the part of it with any Spark job running."""
        self.wall += wall
        self.active += active

    def add_spans(self, tracer: Tracer) -> None:
        for layer, n in tracer.calls.items():
            self.layer[layer]["calls"] += n
            self.layer[layer]["self_s"] += tracer.self_s[layer]
        tracer.reset()

    def per_pass(self, passes: int) -> dict[str, float]:
        """Every counter as a per-pass figure (sums divided by passes)."""
        out = {}
        for layer, row in self.layer.items():
            for c, v in row.items():
                out[f"{layer}.{c}"] = v / passes
        for e, v in self.engine.items():
            out[f"engine.{e}"] = v / passes
        out["engine.driver_gap_s"] = (self.wall - self.active) / passes
        out["engine.job_active_frac"] = self.active / self.wall if self.wall else 0.0
        out["trace.unattributed_job_frac"] = (
            self.unattributed_jobs / self.jobs if self.jobs else 0.0
        )
        return out
