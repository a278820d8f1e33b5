"""Console entry point — the Spark analogue of the reference client
(Grasper's driver/client.cpp:184-283 console loop).

    python -m grasper_spark --graph tests/data/grasper_modern -q 'g.V().count()'
    python -m grasper_spark --tpch /root/testdata/sf0.001      # interactive

Accepts the same three command families as the reference: Gremlin
queries (g.V()… / g.E()…), BuildIndex(...), SetConfig(...); plus
`emu <config_file>` for throughput mode, `explain <query>`, and
`profile <query>` (per-step row counts + wall ms).
"""

from __future__ import annotations

import argparse
import sys
import time


def _build_graph(args, spark):
    from grasper_spark.sources import load_grasper_text, load_tpch_graph

    if args.tpch:
        return load_tpch_graph(spark, args.tpch).cache()
    return load_grasper_text(spark, args.graph).cache()


def _run_one(g, q: str, explain: bool = False) -> None:
    t0 = time.perf_counter()
    try:
        if q.startswith("emu "):
            from grasper_spark.emu import run_emu

            with open(q[4:].strip()) as fh:
                res = run_emu(g, fh.read())
            print(res.as_dict())
            return
        if q.startswith("explain "):
            g.query(q[8:]).explain("formatted")
            return
        if q.startswith("profile "):
            for r in g.profile(q[8:]).collect():
                mark = f"  ! {r.error}" if r.error else ""
                print(f"  step {r.step:>2} {r.name:<12} rows={r.rows} "
                      f"ms={r.ms}{mark}")
            return
        df = g.query(q)
        rows = df.collect()
        dt = (time.perf_counter() - t0) * 1000
        for r in rows[:100]:
            print("=>", *r)
        if len(rows) > 100:
            print(f"... ({len(rows)} rows total)")
        # timing line like the reference client ("[Timer] xx ms for ...")
        print(f"[Timer] {dt:.1f} ms for {q}")
        if explain:
            df.explain("formatted")
    except Exception as e:  # console: report, don't die
        print(f"error: {e}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(prog="grasper_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--graph", help="Grasper text-format directory")
    src.add_argument("--tpch", help="testdata sf dir to project into a graph")
    ap.add_argument("-q", "--query", help="one-shot query (else interactive)")
    ap.add_argument("--emu", help="run throughput mode on this config file")
    ap.add_argument("--explain", action="store_true", help="print plans too")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from grasper_spark import G, get_spark

    spark = get_spark("grasper-console", master=args.master)
    g = G(_build_graph(args, spark))

    if args.emu:
        _run_one(g, f"emu {args.emu}", args.explain)
        return
    if args.query:
        _run_one(g, args.query.strip(), args.explain)
        return

    print("grasper_spark console — enter Gremlin queries, 'exit' to quit")
    while True:
        try:
            q = input("grasper> ").strip()
        except EOFError:
            break
        if not q:
            continue
        if q in ("exit", "quit"):
            break
        _run_one(g, q, args.explain)


if __name__ == "__main__":
    main()
