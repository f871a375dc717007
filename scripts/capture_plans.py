"""Capture ``explain("formatted")`` for named gates into plans/<tag>/.

Usage:
    python scripts/capture_plans.py <outdir> <suffix> [gate ...]

Writes ``<outdir>/<gate>_<suffix>.txt`` for each gate.  Run from a
worktree of the round-start commit with suffix ``before`` and from the
current tree with suffix ``after`` to produce the judge's plan-diff
evidence.  Gates whose returned frame is a tiny local relation (the
driver-orchestrated multi-job gates) still show the final check plan;
their primary evidence is the job-structure description in
OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    gates = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from scripts.bench_common import build_session

    spark = build_session(8, app="capture-plans")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in gates:
        df = qs[name](spark, SF_DIR)
        # the public explain() works on classic and Connect sessions alike;
        # drop the newline its print() adds so files match explainString
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().removesuffix("\n")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
