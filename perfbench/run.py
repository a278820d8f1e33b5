"""Closed-loop benchmark of grasper_spark: one named workload, one seed.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the repository root. The request stream is generated up front
from ``--seed``; requests go through the library's public API and are
timed from outside it; every result is checked against DuckDB (or an
exact certificate) after the timed window. The last stdout line is one
JSON object {correct, attempted, failed, metrics}; the line before it
carries every end-to-end figure with its unit, the launch settings and
the fixture build time.

``setup_s`` is one cold set-up: from process start to the first timed
request (session start, snapshot attach and cache, prepared-handle and
index builds, warm-up), less the benchmark's own work in between
(fixture generation, the DuckDB oracle connection and the request
stream).

``--trace 1`` runs a fixed slice of the stream on one client with
layer spans and Spark counters on, and reports the per-layer metrics
instead. The same slice runs untraced in a second process with the same
seed, set-up and warm-up (before or after this one, by seed parity);
``trace.overhead_pct`` compares the two. Workloads and metrics, with
their units, are listed in BENCHMARK.json at the repository root."""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _requests(wl, seed, con):
    """(warm-up, timed) requests: the warm-up is the head of the
    stream's first cycle; the timed stream starts at its second."""
    full = wl.stream(seed, 1 + wl.STREAM_CYCLES, con)
    return full[: wl.WARMUP], full[wl.CYCLE:]


def _declared_units(section: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


# units of the end-to-end figures the detail line carries beside the
# ones BENCHMARK.json declares
DETAIL_UNITS = {"window_s": "s", "latency_tail_ms": "ms", "point_p50_ms": "ms",
                "point_tail_ms": "ms", "adhoc_p50_ms": "ms", "adhoc_tail_ms": "ms",
                "ingest_visible_ms": "ms", "error_rate": "ratio", "peak_rss_mb": "MB"}


def _latency_summary(wl, records, elapsed):
    """End-to-end figures of a window: medians, and tails as
    (ms, percentile, samples) with the percentile the highest that has
    at least ten samples beyond it."""
    from perfbench.core import median_ms, tail

    def lat(kind=None):
        return [r["lat"] for r in records
                if not r["error"] and (kind is None or r.get("kind") == kind)
                and r.get("kind") != "write"]

    out = {"throughput_qps": len(records) / elapsed if elapsed else 0.0,
           "window_s": elapsed, "latency_p50_ms": median_ms(lat()),
           "latency_tail_ms": tail(lat())}
    if wl.NAME == "serve":
        for kind in ("point", "adhoc"):
            out[f"{kind}_p50_ms"] = median_ms(lat(kind))
            out[f"{kind}_tail_ms"] = tail(lat(kind))
        vis = [r["visible_ms"] for r in records if r.get("visible_ms") is not None]
        out["ingest_visible_ms"] = statistics.median(vis) if vis else None
    return out


def _with_units(summary: dict) -> dict:
    units = {**DETAIL_UNITS, **_declared_units("end_to_end")}
    out = {}
    for k, v in summary.items():
        if isinstance(v, dict):  # a tail
            out[k] = {"value": v["ms"], "unit": units[k], "percentile": v["p"],
                      "samples": v["n"]}
        else:
            out[k] = {"value": v, "unit": units[k]}
    return out


def _per_layer(tracer, spark, records, session_s, sentinel, handle_hits):
    """Every per-layer metric but the overhead (0 where the layer does
    not run). ``handle_hits`` are the per-query handles' own counters
    over the traced slice."""
    from collections import Counter

    from perfbench.core import spark_counters

    sm = tracer.self_ms()
    c = tracer.counts

    def mean(name, which=1, scale=1.0):  # which: 1 = total, 2 = self
        calls, tot, slf = sm.get(name, (0, 0.0, 0.0))
        return (tot if which == 1 else slf) / calls * scale if calls else 0.0

    def avg(key):
        xs = [r[key] for r in records if key in r]
        return statistics.mean(xs) if xs else 0.0

    # Spark execution counts every job of the slice; the library layers
    # above it count the jobs of their own requests
    by_layer: dict = {}
    groups = spark_counters(spark)
    for r in records:
        r["spark"] = groups.get(f"r{r['i']}", Counter())
        by_layer.setdefault(r.get("layer"), Counter()).update(r["spark"])
    ex = sum(by_layer.values(), Counter())
    al, fn, pr, ing = (by_layer.get(k, Counter()) for k in
                       ("algos", "functions", "prepared", "ingest"))
    comp = [s for s in tracer.spans if s["name"] == "compiler.build"]
    hits = c["prepared.row_hits"] + handle_hits["row_hits"]
    cold = c["prepared.cold"] + handle_hits["cold"]
    plan_hits = handle_hits["plan_hits"]
    served = hits + plan_hits + cold
    m = {
        "session.start_s": session_s,
        "sources.attach_s": mean("sources.attach", scale=1e-3),
        "sources.cached_bytes": c["sources.cached_bytes"],
        "parser.parse_ms": mean("parser.parse"),
        "api.query_ms": mean("api.query", which=2),
        "api.plan_cache_hit_ratio": (c["api.plan_cache_hits"] / c["api.queries"]
                                     if c["api.queries"] else 0.0),
        "api.refresh_ms": mean("api.refresh"),
        "compiler.build_ms": mean("compiler.build", which=2),
        "compiler.jvm_calls": (sum(s["jvm_calls"] for s in comp) / len(comp)
                               if comp else 0.0),
        "catalyst.plan_ms": avg("catalyst_ms"),
        "catalyst.exchanges": sum(r.get("exchanges", 0) for r in records),
        "exec.run_ms": avg("exec_ms"),
        "exec.jobs": ex["jobs"],
        "exec.tasks": ex["tasks"],
        "exec.shuffle_bytes": ex["shuffle_bytes"],
        "exec.spill_bytes": ex["spill_bytes"],
        "prepared.materialize_s": mean("prepared.materialize", scale=1e-3),
        "prepared.rows_us": mean("prepared.rows", scale=1e3),
        "prepared.row_hits": hits,
        "prepared.plan_hits": plan_hits,
        "prepared.cold": cold,
        "prepared.hit_ratio": (hits + plan_hits) / served if served else 0.0,
        "prepared.auto_builds": c["prepared.auto_builds"],
        "prepared.jobs": pr["jobs"],
        "index.build_ms": mean("index.build"),
        "ingest.jobs": ing["jobs"],
        "algos.cc_s": mean("algos.cc", scale=1e-3),
        "algos.pagerank_s": mean("algos.pagerank", scale=1e-3),
        "algos.bfs_s": mean("algos.bfs", scale=1e-3),
        "algos.jobs": al["jobs"],
        "algos.shuffle_bytes": al["shuffle_bytes"],
        "functions.jobs": fn["jobs"],
        "functions.shuffle_bytes": fn["shuffle_bytes"],
        "functions.cached_bytes": c["functions.cached_bytes"],
        "udf.decode_s": mean("udf.decode", scale=1e-3),
        "udf.python_rows": c["udf.python_rows"],
        "udf.python_bytes": c["udf.python_bytes"],
        "host.sentinel_ms": sentinel,
    }
    for op in ("overlap_pair_stats", "minhash_signature", "line_dedup", "curate",
               "qint_cosine_topk"):
        m[f"functions.{op}_s"] = mean(f"functions.{op}", scale=1e-3)
    return m


def _plain_slice(args) -> dict:
    """The traced run's slice, untraced, in a fresh process with the
    same seed, set-up and warm-up: {"slice_s", "errors"}."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--plain-slice"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"untraced slice failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["olap", "serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # internal: the untraced side of a traced run (see _plain_slice)
    ap.add_argument("--plain-slice", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    for rel in ("grasper_spark/__init__.py", "tools/gen_sf.py", "configs/emu_tpch.txt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found; run from a grasper_spark checkout",
                  file=sys.stderr)
            return 2

    sys.path.insert(0, ROOT)
    from perfbench import core, fixtures

    settings = core.pin_launch()
    wl = importlib.import_module(f"perfbench.{args.workload}")
    sliced = bool(args.trace or args.plain_slice)
    clients = 1 if sliced else wl.CLIENTS  # one order, so counters repeat
    plain, origin = None, T_PROCESS
    plain_first = args.trace and args.seed % 2 == 0
    if plain_first:  # before this process starts its own JVM
        plain = _plain_slice(args)
        origin = time.perf_counter()

    tracer = core.Tracer(False)
    spark = core.start_spark()
    session_s = time.perf_counter() - origin
    t0 = time.perf_counter()
    fx = fixtures.ensure(spark)
    t1 = time.perf_counter()
    con = fixtures.duck(fx)
    warm, stream = _requests(wl, args.seed, con)
    t2 = time.perf_counter()
    phases = {"fixtures_s": t1 - t0, "oracle_and_stream_s": t2 - t1}
    if args.trace:
        core.install_layer_spans(tracer, core.Py4jCounter(spark))
        tracer.on = True  # set-up spans: attach, handle and index builds
    st = wl.setup(spark, fx, tracer)
    tracer.on = False
    t3 = time.perf_counter()
    phases["setup_s"] = t3 - t2

    def execute(i, req):
        if tracer.on:
            tracer.set_request(f"r{i}")
            spark.sparkContext.setJobGroup(f"r{i}", f"r{i}")
        rec = wl.execute(st, i, req)
        rec["kind"] = req.get("kind", req.get("op"))
        return rec

    warm_recs, _ = core.closed_loop(warm, lambda i, req: wl.execute(st, i, req),
                                    clients, None)
    setup_s = time.perf_counter() - origin - (t2 - t0)
    phases["warmup_s"] = time.perf_counter() - t3
    phases["warmup_errors"] = sum(1 for r in warm_recs if r["error"])
    sentinel = core.sentinel_ms(spark)

    if sliced:
        stream = wl.trace_slice(stream)
        handle_stats = getattr(wl, "handle_stats", None)
        before = handle_stats(st) if handle_stats else None
        tracer.on = bool(args.trace)
        records, elapsed = core.closed_loop(stream, execute, 1, None)
        tracer.on = False
        if args.plain_slice:
            core.stop_spark(spark)
            print(json.dumps({"slice_s": elapsed,
                              "errors": sum(1 for r in records if r["error"])}))
            return 0
        from collections import Counter

        hits = handle_stats(st) - before if handle_stats else Counter()
    else:
        records, elapsed = core.closed_loop(
            stream, execute, clients, args.seconds, stop_at=wl.stop_at)
    peak = core.peak_rss_mb(spark)
    if args.trace:
        layer = _per_layer(tracer, spark, records, session_s, sentinel, hits)
    summary = _latency_summary(wl, records, elapsed)
    t0 = time.perf_counter()
    fails = wl.check(con, stream, records)
    phases["check_s"] = time.perf_counter() - t0
    summary.update(setup_s=setup_s, peak_rss_mb=peak,
                   error_rate=len(fails) / max(1, len(records)))
    t0 = time.perf_counter()
    core.stop_spark(spark)
    phases["stop_s"] = time.perf_counter() - t0

    detail: dict = {"workload": wl.NAME, "seed": args.seed, "trace": args.trace,
                    "clients": clients, "launch": settings, "nproc": core.nproc(),
                    "fixture_build_s": fx["build_s"], "session_s": session_s,
                    "host_sentinel_ms": sentinel, "requests": len(records),
                    "e2e": _with_units(summary), "phases": phases}
    values = summary
    if args.trace:
        if plain is None:  # after this process's JVM has ended
            plain = _plain_slice(args)
        if plain["errors"]:
            fails["untraced"] = f"{plain['errors']} requests of the untraced slice failed"
        layer["trace.overhead_pct"] = (elapsed / plain["slice_s"] - 1.0) * 100.0
        detail["untraced_slice"] = plain
        detail["self_ms"] = {k: {"calls": v[0], "total_ms": v[1], "self_ms": v[2]}
                             for k, v in tracer.self_ms().items()}
        values = layer
    detail["failures"] = dict(list(fails.items())[:10])
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in _declared_units("per_layer" if args.trace
                                           else "end_to_end").items()}

    out_dir = os.path.join(core.DATA, "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{wl.NAME}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"detail": detail, "metrics": metrics, "spans": tracer.spans,
                   "requests": [(r["i"], r.get("kind"), r["lat"], r.get("spark"))
                                for r in records]},
                  fh, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": not fails, "attempted": len(records),
                      "failed": len(fails), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
