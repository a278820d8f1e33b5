#!/usr/bin/env python
"""Per-template split of a perfbench result (serve, olap or curate).

A result file (``.perfbench_data/results/<workload>-s<seed>-t<trace>.json``)
records each request's stream index and latency, not its template. This
tool regenerates the run's seeded request stream the same way
``perfbench/run.py`` does (``perfbench.run._requests`` over the
workload's ``stream``, from the fixture tables the run used) and prints,
for each template: the request count, the summed client ms, and the p50
and max latency in ms, costliest first. serve names a request by its
point or ad-hoc template, olap by its ``name``, curate by its ``op``.

Usage:
    python tools/bench_split.py .perfbench_data/results/olap-s21-t0.json
    python tools/bench_split.py --root ../other <result>  # another checkout's run

Needs the perfbench fixtures on disk (any serve run builds them).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def split(result: dict, timed: list[dict], templates: tuple[list, list] | None) -> list[tuple]:
    """[(template, n, sum_ms, p50_ms, max_ms)], largest sum first.
    ``templates`` is serve's (points, adhoc) pair, None for workloads
    whose requests carry their template ``name``."""
    lat: dict[str, list[float]] = {}
    for i, kind, sec, _ in result["requests"]:
        req = timed[i]
        rkind = req.get("kind", req.get("op"))  # as perfbench/run.py records it
        if rkind != kind:
            raise ValueError(
                f"request {i} is a {kind} in the result but a {rkind} in "
                f"the regenerated stream: another seed, perfbench or fixture set"
            )
        if templates is None:
            name = f"{kind}: {req['name']}" if "name" in req else kind
        elif kind == "write":
            name = "write (append + refresh + BuildIndex + probe)"
        else:
            points, adhoc = templates
            name = (points if kind == "point" else adhoc)[req["t"]].query
            name = f"{kind}: {name}"
        lat.setdefault(name, []).append(sec * 1000.0)
    rows = [(k, len(v), sum(v), statistics.median(v), max(v)) for k, v in lat.items()]
    return sorted(rows, key=lambda r: -r[2])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("result", help="a <workload>-s<seed>-t<trace>.json result file")
    ap.add_argument("--root", default=ROOT,
                    help="checkout whose perfbench/ and fixtures made the result "
                         "(default: this one)")
    args = ap.parse_args(argv)
    with open(args.result) as fh:
        result = json.load(fh)
    detail = result["detail"]
    workload = detail["workload"]
    if workload not in ("serve", "olap", "curate"):
        print(f"bench_split: {args.result} is a {workload} result", file=sys.stderr)
        return 2

    sys.path.insert(0, os.path.abspath(args.root))
    import importlib

    from perfbench import fixtures, run

    mod = importlib.import_module(f"perfbench.{workload}")
    if not os.path.exists(os.path.join(fixtures.fixture_dir(), "_OK")):
        print("bench_split: perfbench fixtures missing; run a workload first",
              file=sys.stderr)
        return 2
    fx = fixtures.ensure(None)  # present: returns the paths, starts no Spark
    _, timed = run._requests(mod, detail["seed"], fixtures.duck(fx))
    if detail["trace"]:
        timed = mod.trace_slice(timed)

    rows = split(result, timed, mod.templates() if workload == "serve" else None)
    total = sum(r[2] for r in rows)
    print(f"# {workload} seed {detail['seed']} trace {detail['trace']}: "
          f"{len(result['requests'])} requests, {total:.0f} client ms")
    print(f"{'n':>6} {'sum_ms':>10} {'share':>6} {'p50_ms':>9} {'max_ms':>9}  template")
    for name, n, s, p50, mx in rows:
        print(f"{n:>6} {s:>10.1f} {s / total:>6.1%} {p50:>9.3f} {mx:>9.1f}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
