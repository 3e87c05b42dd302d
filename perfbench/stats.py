"""Summary statistics the benchmark reports."""

from __future__ import annotations

import os
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as (value, percentile, samples beyond).

    With n sorted samples that is the one ranked ``n - 10`` (so exactly
    ten lie above it), at percentile ``100 * (n - 10) / n``. With twenty
    samples or fewer that percentile is not above the median, so no
    tail qualifies; the maximum is returned with percentile 100 and
    zero samples beyond, so the caller can see the rule was not met.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], 100.0, 0
    rank = n - TAIL_BEYOND
    return xs[rank - 1], 100.0 * rank / n, TAIL_BEYOND


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


class Outcomes:
    """Counts ops attempted and failed; a wrong result is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, op: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.reasons.append(f"{op}: {error}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def jvm_pids(root: int) -> list[int]:
    """Descendant processes of ``root`` that are Java VMs."""
    found, todo = [], [root]
    while todo:
        for child in _children(todo.pop()):
            todo.append(child)
            try:
                with open(f"/proc/{child}/comm") as f:
                    if f.read().strip() == "java":
                        found.append(child)
            except OSError:
                pass
    return found


def peak_rss_mb(jvms: list[int]) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVMs."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in jvms)
    return kb / 1024.0
