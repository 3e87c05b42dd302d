"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/sweep.py --workloads etl_medallion,curation_stores \\
        --seeds 101-110 --label proof1 [--out perfbench/results/steadiness.json]
    python3 perfbench/sweep.py --workloads etl_medallion,curation_stores \\
        --seeds 101-103 --traced --untraced perfbench/results/steadiness.json \\
        [--out perfbench/results/traced_run.json]

The first form runs ``run.py --trace 0`` once per (workload, seed) and
prints, per end-to-end metric, the median and the spread (interquartile
distance over the median, as ``statistics.quantiles(n=4)`` gives the
quartiles) next to the metric's bound in ``BENCHMARK.json``. With
``--out`` it stores the runs and the summary under ``--label`` in that
file, keeping the other labels; with two or more labels the file also
gets each metric's median change from the first label to the last.

``--traced`` runs ``run.py --trace 1`` once per (workload, seed) and
records the per-layer figures (each one's median over the seeds), the
unattributed job share and the tracing overhead: the median traced
``wall_s`` minus the median untraced ``wall_s`` of the same seeds, next
to the untraced interquartile range in seconds. The untraced walls are
read from the runs in ``--untraced``, a file the first form wrote.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
HOW = (
    "python3 perfbench/sweep.py --workloads {workloads} --seeds {seeds} "
    "--label <label>, once per label, on a {cpus}-CPU host; "
    "spread = IQR/median (statistics.quantiles n=4)"
)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "process_s": time.time() - t0,
        "detail": json.loads(lines[-2])["detail"],
        "result": json.loads(lines[-1]),
    }


def values(runs: list[dict]) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> the runs' values, plus ``process_s``."""
    out: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        m = out.setdefault(r["workload"], {})
        for name, v in r["result"]["metrics"].items():
            m.setdefault(name, []).append(v["value"])
        m.setdefault("process_s", []).append(r["process_s"])
    return out


def summarise(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for wl, metrics in values(runs).items():
        out[wl] = {}
        for name, vs in metrics.items():
            out[wl][name] = {
                "median": statistics.median(vs),
                "spread": stats.spread(vs) if len(vs) > 1 else 0.0,
                "bound": bounds.get(name),
                "n": len(vs),
            }
    return out


def median_change(first: dict, last: dict) -> dict:
    """Each metric's relative median change from one summary to another."""
    return {
        wl: {
            name: last[wl][name]["median"] / s["median"] - 1.0
            for name, s in metrics.items()
            if name in last.get(wl, {})
        }
        for wl, metrics in first.items()
    }


def load(path: str | None) -> dict:
    if path and os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def save(path: str, record: dict) -> None:
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


def steadiness(args, workloads: list[str], seconds: int, bounds: dict) -> None:
    runs = []
    for wl in workloads:
        for seed in args.seeds:
            runs.append(run_once(wl, seed, seconds, 0))
            r = runs[-1]
            print(wl, seed, f"{r['process_s']:.1f}s",
                  json.dumps({k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}),
                  "correct" if r["result"]["correct"] else "WRONG", flush=True)
    summary = summarise(runs, bounds)
    for wl, metrics in summary.items():
        for name, s in metrics.items():
            flag = "" if s["bound"] is None or s["spread"] < s["bound"] / 3 else "  <-- over bound/3"
            print(f"{wl:16s} {name:12s} median={s['median']:.4g} spread={s['spread']:.3f}"
                  f" bound={s['bound']}{flag}")
    if not args.out:
        return
    record = load(args.out)
    record["how"] = HOW.format(
        workloads=args.workloads, seeds=args.seeds_text, cpus=len(os.sched_getaffinity(0))
    )
    record.pop("median_change", None)
    record[args.label] = {"summary": summary, "runs": runs}
    labels = [k for k in record if k != "how"]
    if len(labels) > 1:
        first, last = record[labels[0]]["summary"], record[labels[-1]]["summary"]
        record["median_change"] = {
            "from": labels[0], "to": labels[-1], "change": median_change(first, last),
        }
    save(args.out, record)


def traced(args, workloads: list[str], seconds: int) -> None:
    earlier = [
        r for rec in load(args.untraced).values()
        if isinstance(rec, dict) and "runs" in rec for r in rec["runs"]
    ]
    record = {"how": (
        f"python3 perfbench/sweep.py --workloads {args.workloads} --seeds "
        f"{args.seeds_text} --traced --untraced {os.path.relpath(args.untraced, REPO)}, "
        f"on a {len(os.sched_getaffinity(0))}-CPU host; per_layer = median over the seeds"
    )}
    for wl in workloads:
        plain = [r for r in earlier if r["workload"] == wl and r["seed"] in args.seeds]
        if len(plain) < 2:
            raise SystemExit(f"{args.untraced}: fewer than two untraced runs of {wl}")
        runs = [run_once(wl, seed, seconds, 1) for seed in args.seeds]
        layers = values(runs)[wl]
        untraced = [r["result"]["metrics"]["wall_s"]["value"] for r in plain]
        q1, _, q3 = statistics.quantiles(untraced, n=4)
        overhead = statistics.median(layers["trace.wall_s"]) - statistics.median(untraced)
        record[wl] = {
            "seeds": args.seeds,
            "correct": all(r["result"]["correct"] for r in runs),
            "untraced_walls_s": untraced,
            "traced_walls_s": layers["trace.wall_s"],
            "overhead_s": overhead,
            "untraced_iqr_s": q3 - q1,
            "overhead_within_spread": abs(overhead) <= q3 - q1,
            "unattributed_job_frac": statistics.median(layers["trace.unattributed_job_frac"]),
            "per_layer": {k: statistics.median(v) for k, v in layers.items() if k != "process_s"},
            "details": [r["detail"] for r in runs],
        }
        print(wl, json.dumps({k: record[wl][k] for k in (
            "overhead_s", "untraced_iqr_s", "overhead_within_spread",
            "unattributed_job_frac")}), flush=True)
    if args.out:
        save(args.out, record)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--label", default="sweep")
    p.add_argument("--traced", action="store_true")
    p.add_argument("--untraced")
    p.add_argument("--out")
    args = p.parse_args()
    args.seeds_text, args.seeds = args.seeds, seeds_arg(args.seeds)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    if args.traced:
        if not args.untraced:
            p.error("--traced needs --untraced")
        traced(args, workloads, spec["run_seconds"])
    else:
        steadiness(args, workloads, spec["run_seconds"], bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
