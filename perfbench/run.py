"""Benchmark harness for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One closed-loop client in one process runs a workload on
``local[<cpus>]``:

1. prepare: generate the workload's inputs inside a private work
   directory (removed at exit);
2. set up three times (build a session through ``session.get_spark``,
   load the inputs through the package's sources) and keep the median;
3. timed passes: run every op (seeded order, noop sink) until
   ``--seconds`` have passed, at least one whole pass. In the first
   pass, an op checked from its result first runs once untimed with a
   collecting sink, and the result is compared with its oracle.

After every op: ``clearCache()``, Python ``gc`` and a JVM GC. The last
stdout line is one JSON object; with ``--trace 0`` its metrics are the
end-to-end figures, with ``--trace 1`` the per-layer figures of the
same run, traced (see ``layertrace.py``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(REPO, "data_integration_openfoodfacts_spark")
SETUP_REPS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(spark) -> None:
    """Keep one op's cached frames and checkpoint blocks from the next,
    and start every op on a collected heap."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def failure(op, exc: Exception) -> str:
    """Report a failed op on stderr; return its one-line reason."""
    print(f"op {op.name} failed:", file=sys.stderr)
    traceback.print_exception(exc, file=sys.stderr)
    first = str(exc).strip().splitlines()[:1]
    return f"{type(exc).__name__}: {first[0][:200] if first else ''}"


class Harness:
    def __init__(self, args: argparse.Namespace, work: str, workload=None) -> None:
        import stats
        import workloads

        self.args = args
        self.work = work
        self.wl = workload or workloads.get(args.workload)
        self.ctx = workloads.Context(spark=None, work=work)
        self.outcomes = stats.Outcomes()
        self.rng = random.Random(args.seed)
        self.op_walls: dict[str, list[float]] = {}
        self.first_order: list[str] = []
        self.check_s = 0.0  # untimed checking runs and their oracles
        self.isolate_s = 0.0
        self.tracer = None
        self.engine = None

    # -- set-up ------------------------------------------------------
    def conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # JVM temp files in the work directory, and no perf-data
            # file in the system temp directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }

    def setup(self) -> list[float]:
        from data_integration_openfoodfacts_spark import session

        cpus = len(os.sched_getaffinity(0))
        times = []
        for _ in range(SETUP_REPS):
            if self.ctx.spark is not None:
                self.ctx.spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(
                f"perfbench-{self.args.workload}",
                master=f"local[{cpus}]",
                extra_conf=self.conf(),
            )
            spark.sparkContext.setLogLevel("ERROR")
            self.ctx.spark = spark
            self.wl.setup(self.ctx)
            times.append(time.perf_counter() - t0)
        return times

    # -- passes ------------------------------------------------------
    def isolate(self) -> None:
        t0 = time.perf_counter()
        isolate(self.ctx.spark)
        self.isolate_s += time.perf_counter() - t0

    def run_op(self, op, check: bool) -> tuple[float, float]:
        """Run and time one op with the noop sink. With ``check``, an op
        the workload checks from its result first runs once untimed with
        a collecting sink, and that result is compared with the op's
        oracle (this run also warms the op). Returns the timed run's
        start (epoch seconds) and wall."""
        err = None
        if check and self.wl.collects(op):
            tracing = self.tracer is not None and self.tracer.enabled
            if tracing:  # the checking run is not part of the trace
                self.tracer.enabled = False
            t0 = time.perf_counter()
            try:
                err = self.wl.check(self.ctx, op, self.wl.run(self.ctx, op, True))
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                err = failure(op, exc)
            self.check_s += time.perf_counter() - t0
            self.isolate()
            if tracing:
                self.engine.new_jobs()
                self.tracer.enabled = True
        start, t0 = time.time(), time.perf_counter()
        try:
            result = self.wl.run(self.ctx, op, False)
            dt = time.perf_counter() - t0
            err = err or self.wl.check_timed(self.ctx, op, result)
        except Exception as exc:  # noqa: BLE001
            dt = time.perf_counter() - t0
            err = err or failure(op, exc)
        self.outcomes.record(op.name, err)
        return start, dt

    def timed_pass(self, ops, check: bool, totals=None) -> tuple[float, list[float]]:
        """One pass; its wall is the sum of its op walls (checks and the
        isolation steps between ops are not counted)."""
        from layertrace import union_s

        op_times = []
        order = self.wl.order(self.rng, ops)
        if not self.first_order:
            self.first_order = [op.name for op in order]
        for op in order:
            start, dt = self.run_op(op, check)
            op_times.append(dt)
            self.op_walls.setdefault(op.name, []).append(dt)
            if totals is not None:
                jobs = self.engine.new_jobs()
                totals.add_jobs(jobs)
                totals.add_op(
                    dt,
                    union_s(
                        [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]],
                        start, start + dt,
                    ),
                )
            self.isolate()
        return sum(op_times), op_times

    def timed_passes(
        self, ops, check_first: bool, totals=None
    ) -> tuple[list[float], list[float]]:
        """Whole passes until ``--seconds`` have passed; with
        ``check_first`` the first pass also checks every op."""
        walls, op_times = [], []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < self.args.seconds:
            wall, times = self.timed_pass(ops, check_first and not walls, totals)
            walls.append(wall)
            op_times += times
        return walls, op_times

    # -- runs --------------------------------------------------------
    def run(self) -> dict:
        import stats

        self.wl.prepare(self.ctx, self.args.seed)
        if self.args.trace:
            from layertrace import Tracer

            import data_integration_openfoodfacts_spark.plans.registry  # noqa: F401

            self.tracer = self.ctx.tracer = Tracer()
            self.tracer.install()
            self.tracer.enabled = True
        setup_times = self.setup()
        ops = self.wl.ops()
        if self.args.trace:
            return self.traced(ops, setup_times)
        t0 = time.perf_counter()
        walls, op_times = self.timed_passes(ops, check_first=True)
        measured_s = time.perf_counter() - t0
        tail, pct, beyond = stats.tail(op_times)
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "wall_s": (statistics.median(walls), "s"),
            "op_p50_s": (statistics.median(op_times), "s"),
            "op_tail_s": (tail, "s"),
        }
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "setup_runs_s": setup_times,
            "measured_s": measured_s,
            "check_s": self.check_s,
            "isolate_s": self.isolate_s,
            "passes": len(walls),
            "pass_walls_s": walls,
            "first_pass_order": self.first_order,
            "ops_timed": len(op_times),
            "op_tail_percentile": pct,
            "op_tail_beyond": beyond,
            "ops_failed_frac": self.outcomes.failed_frac,
            "failures": self.outcomes.reasons[:10],
            "op_walls_s": self.op_walls,
            "peak_rss_mb": stats.peak_rss_mb(stats.jvm_pids(os.getpid())),
        }
        return self.result(metrics, detail)

    def traced(self, ops, setup_times) -> dict:
        """The untraced run's passes, traced. Layer figures are per pass,
        except the session layer's, which are the set-up phase's."""
        import stats
        from layertrace import EngineReader, LayerTotals, unit

        session_calls = self.tracer.calls.get("session", 0)
        session_self = self.tracer.self_s.get("session", 0.0)
        self.tracer.reset()
        self.engine = EngineReader(self.ctx.spark.sparkContext)
        totals = LayerTotals()
        walls, _ = self.timed_passes(ops, True, totals)
        self.tracer.enabled = False
        totals.add_spans(self.tracer)
        figures = totals.per_pass(len(walls))
        figures["session.calls"] = session_calls
        figures["session.self_s"] = session_self
        figures["trace.wall_s"] = statistics.median(walls)
        figures["engine.peak_rss_mb"] = stats.peak_rss_mb(stats.jvm_pids(os.getpid()))
        metrics = {name: (value, unit(name)) for name, value in figures.items()}
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "setup_runs_s": setup_times,
            "traced_walls_s": walls,
            "first_pass_order": self.first_order,
            "op_walls_s": self.op_walls,
            "jobs_per_pass": totals.jobs / len(walls),
            "ops_failed_frac": self.outcomes.failed_frac,
            "failures": self.outcomes.reasons[:10],
        }
        return self.result(metrics, detail)

    def result(self, metrics: dict, detail: dict) -> dict:
        print(json.dumps({"detail": detail}), flush=True)
        return {
            "correct": self.outcomes.failed == 0,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for
    it (the Python workers are its children and end with it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"error: engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything the run writes stays in the work directory (Python and
    # JVM temp files, Spark scratch space); the Python workers import the
    # package from this checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    try:
        result = Harness(args, work).run()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
