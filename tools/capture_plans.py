"""Capture .explain('formatted') for declared queries.

Usage:
    python tools/capture_plans.py before [q1,q2,...] [--out DIR]
    python tools/capture_plans.py after  [q1,q2,...] [--out DIR]

Writes <DIR>/<query>_<tag>.txt, DIR defaulting to the tracked
plans/r09. Defaults to the bench HEADLINE set; pass an explicit comma
list to capture others. Pass --out for a parity check, so the checked-in
before/after evidence stays as it is.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="?", help="comma list (default: bench HEADLINE)")
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r09"))
    args = ap.parse_args()
    only = args.queries.split(",") if args.queries else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    import __spark_entry__ as entry
    from grasper_spark import get_spark

    import bench

    spark = get_spark("capture-plans", master=f"local[{cpus}]")
    qs = entry.queries()
    names = only or bench.HEADLINE
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # capture the failure instead of dying
            txt = f"EXPLAIN FAILED: {ex!r}\n"
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
