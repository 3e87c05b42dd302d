"""Dump `.explain("formatted")` of registry queries into
``<outdir>/<qN>_<tag>.txt`` (plan evidence for an optimization: run
once with ``before`` from a checkout of the base commit and once with
``after`` at HEAD, then diff the pairs).

    python tools/dump_explains.py <tag> <outdir> <query> [query ...]

Queries run at the `tools/explain_report.py` scale factor (plan shapes
are size-independent except where AQE notes otherwise). Lifecycle
queries execute their store actions while building the returned frame;
the dumped plan is the final declared frame's — the same one the bench
noop-sinks (for eagerly checkpointed frames that is a single RDD scan).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.explain_report import SF_DIR  # noqa: E402


def main(argv: list[str]) -> None:
    if len(argv) < 3:
        sys.exit(__doc__)
    tag, outdir, names = argv[0], argv[1], argv[2:]
    os.makedirs(outdir, exist_ok=True)

    from data_integration_openfoodfacts_spark.plans.registry import QUERIES
    from data_integration_openfoodfacts_spark.session import get_spark

    spark = get_spark("dump-explains")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.path.basename(SF_DIR.rstrip("/"))
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not in this revision's registry")
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name](spark, SF_DIR).explain("formatted")
        path = os.path.join(outdir, f"{name.split('_', 1)[0]}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(f"# {name} — explain('formatted') at {sf} [{tag}]\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main(sys.argv[1:])
