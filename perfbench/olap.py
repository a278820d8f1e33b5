"""`olap` workload: ad-hoc Gremlin strings and iterative algorithms on
the scale-0.1 TPC-H property graph, one client, closed loop.

One cycle is two passes over the nine traversal templates plus one
algorithm call (connected components, PageRank and BFS in turn, so the
first timed cycle runs PageRank; the traced run calls all three); a
run measures whole cycles, so every run has the same request mix. The template order is fixed, so a template's
share of the JIT warm-up is the same for every seed; the first WARMUP
requests of the stream's first cycle warm the session during set-up,
and timing starts at the second cycle. Every literal is seeded and
every string is new, so the plan cache, the prepared tier and index
scans are bypassed: the time goes to compilation, Catalyst planning,
bucketed joins, exchanges and, for the algorithms, superstep
materialization. Range literals come from narrow bands: no string
repeats, but each template's selectivity, and so its work, stays nearly
the same from seed to seed."""

from __future__ import annotations

import random

from perfbench.core import norm, same_multiset

NAME = "olap"
CLIENTS = 1
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ALGOS = ["cc", "pagerank", "bfs"]
PAGERANK_ITERATIONS = 3
BFS_HOPS = 2
PASSES = 2  # traversal passes per cycle
STREAM_CYCLES = 40  # far more than any window uses
WARMUP = 1


def _money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def _template(name: str, rng: random.Random) -> tuple[str, str]:
    """(gremlin, duckdb sql) for one template with fresh literals."""
    if name == "q3_max":  # paper Q3: has(f).in(l).values(k).max()
        k, x = rng.randrange(25), _money(rng, 4000, 6000)
        return (
            f'g.V().has("name","NATION_{k}").in("from_nation")'
            f'.has("acctbal",lt({x})).values("acctbal").max()',
            f"SELECT max(v) FROM (SELECT c_acctbal v FROM customer JOIN nation"
            f" ON c_nationkey = n_nationkey WHERE n_name = 'NATION_{k}'"
            f" UNION ALL SELECT s_acctbal FROM supplier JOIN nation"
            f" ON s_nationkey = n_nationkey WHERE n_name = 'NATION_{k}')"
            f" WHERE v < {x} HAVING count(*) > 0",
        )
    if name == "q4_dedup_count":  # paper Q4: E().has().outV().dedup().count()
        q = _money(rng, 20, 30)
        return (
            f'g.E().hasLabel("contains").has("quantity",gt({q}))'
            f".outV().dedup().count()",
            f"WITH c AS (SELECT l_orderkey, l_partkey, sum(l_quantity) q"
            f" FROM lineitem GROUP BY 1, 2)"
            f" SELECT count(DISTINCT l_orderkey) FROM c WHERE q > {q}",
        )
    if name == "group_count":
        x = _money(rng, 140000, 160000)
        return (
            f'g.V().hasLabel("order").has("totalprice",gt({x}))'
            f'.groupCount("orderstatus")',
            f"SELECT o_orderstatus || ':' || count(*) FROM orders"
            f" WHERE o_totalprice > {x} GROUP BY o_orderstatus",
        )
    if name == "order_range":  # range(a, b) is inclusive of b
        x, a = _money(rng, 0, 1000), rng.randrange(0, 2000)
        return (
            f'g.V().hasLabel("customer").has("acctbal",gt({x}))'
            f'.values("acctbal").order().range({a},{a + 9})',
            f"SELECT c_acctbal FROM customer WHERE c_acctbal > {x}"
            f" ORDER BY c_acctbal LIMIT 10 OFFSET {a}",
        )
    if name == "or_count":
        x, seg = _money(rng, 4000, 6000), rng.choice(SEGMENTS)
        return (
            f'g.V().hasLabel("customer").or(has("acctbal",lt({x})),'
            f'has("mktsegment","{seg}")).count()',
            f"SELECT count(*) FROM customer"
            f" WHERE c_acctbal < {x} OR c_mktsegment = '{seg}'",
        )
    if name == "not_count":  # paper Q5: not(subquery)
        x = _money(rng, 4000, 6000)
        return (
            f'g.V().hasLabel("customer").has("acctbal",gt({x}))'
            f'.not(out("placed")).count()',
            f"SELECT count(*) FROM customer c WHERE c_acctbal > {x} AND NOT EXISTS"
            f" (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)",
        )
    if name == "co_neq":  # paper Q7 core: as/out/in/where(neq)
        x = _money(rng, 4000, 6000)
        return (
            f'g.V().hasLabel("supplier").has("acctbal",gt({x})).as("a")'
            f'.out("supplies").in("supplies").where(neq("a")).dedup().count()',
            f"WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)"
            f" SELECT count(DISTINCT s2.l_suppkey) FROM sp s1"
            f" JOIN supplier s ON s.s_suppkey = s1.l_suppkey AND s.s_acctbal > {x}"
            f" JOIN sp s2 ON s1.l_partkey = s2.l_partkey"
            f" AND s2.l_suppkey <> s1.l_suppkey",
        )
    if name == "without":  # paper Q8: aggregate + where(without)
        x = _money(rng, 300000, 320000)
        return (
            f'g.V().hasLabel("order").has("totalprice",gt({x})).aggregate("big")'
            f'.in("placed").out("placed").where(without("big")).dedup().count()',
            f"WITH big AS (SELECT o_orderkey, o_custkey FROM orders"
            f" WHERE o_totalprice > {x})"
            f" SELECT count(DISTINCT o.o_orderkey) FROM orders o"
            f" WHERE o.o_custkey IN (SELECT o_custkey FROM big)"
            f" AND o.o_orderkey NOT IN (SELECT o_orderkey FROM big)",
        )
    if name == "repeat":
        x = _money(rng, 4000, 6000)
        return (
            f'g.V().hasLabel("supplier").has("acctbal",gt({x}))'
            f'.repeat(out()).times(2).values("name")',
            f"SELECT r_name FROM supplier JOIN nation ON s_nationkey = n_nationkey"
            f" JOIN region ON n_regionkey = r_regionkey WHERE s_acctbal > {x}",
        )
    raise KeyError(name)


# the costliest first: they take the rest of the JIT warm-up, which
# then stays above the median
TRAVERSALS = ["repeat", "co_neq", "without", "q3_max", "q4_dedup_count",
              "group_count", "order_range", "or_count", "not_count"]
CYCLE = PASSES * len(TRAVERSALS) + 1


def stream(seed: int, n_cycles: int, con=None) -> list[dict]:
    """The request stream: ``n_cycles`` cycles, no query string twice."""
    rng = random.Random(f"olap:{seed}")
    seen: set[str] = set()
    out: list[dict] = []
    for c in range(n_cycles):
        for _ in range(PASSES):
            for name in TRAVERSALS:
                while True:
                    q, sql = _template(name, rng)
                    if q not in seen:
                        break
                seen.add(q)
                out.append({"kind": "gremlin", "name": name, "q": q, "sql": sql})
        algo = ALGOS[c % len(ALGOS)]
        # bfs sources: customers and suppliers of the algorithm subgraph
        src = (rng.randrange(15000) + 100) if rng.random() < 0.9 else (
            rng.randrange(1000) + 10_000_000)
        out.append({"kind": "algo", "name": algo, "src": src})
    return out


def stop_at(i: int) -> bool:
    return i % CYCLE == 0


def trace_slice(timed: list[dict]) -> list[dict]:
    """The traced run's requests: the first traversal pass and the
    algorithm calls of the first three cycles (each algorithm once)."""
    return timed[: len(TRAVERSALS)] + [timed[k * CYCLE - 1] for k in (1, 2, 3)]


# ------------------------------------------------------------- execution


def algo_graph(graph):
    """The geography subgraph the algorithms run on: regions, nations,
    customers and suppliers with their in_region / from_nation edges
    (16,030 vertices; five components, one per region)."""
    from pyspark.sql import functions as F

    from grasper_spark.graph import PropertyGraph

    keep_v = ["region", "nation", "customer", "supplier"]
    v = graph.vertices.filter(F.col("label").isin(keep_v)).select("vid", "label")
    e = graph.edges.filter(F.col("label").isin("in_region", "from_nation")).select(
        "src", "dst", "label")
    return PropertyGraph(v.cache(), e.cache(), name="geo")


def setup(spark, fx, tracer) -> dict:
    from grasper_spark import G
    from perfbench.core import cached_bytes
    from perfbench.fixtures import attach_graph

    with tracer.span("sources.attach"):
        graph = attach_graph(spark, fx).cache()
        graph.edge_count()
        geo = algo_graph(graph)
        geo.vertices.count()
        geo.edges.count()
    tracer.count("sources.cached_bytes", cached_bytes(spark))
    return {"spark": spark, "g": G(graph), "geo": geo, "tracer": tracer}


def _run_algo(st, req):
    from grasper_spark import algos

    spark, geo = st["spark"], st["geo"]
    name = req["name"]
    with st["tracer"].span(f"algos.{name}"):
        if name == "cc":
            df = algos.connected_components(geo)
        elif name == "pagerank":
            df = algos.pagerank(geo, iterations=PAGERANK_ITERATIONS)
        else:
            srcs = spark.createDataFrame([(req["src"],)], "vid long")
            df = algos.bfs_distances(geo, srcs, max_hops=BFS_HOPS, direction="both")
        return [tuple(r) for r in df.collect()]


def execute(st, i, req) -> dict:
    from perfbench.core import collect_traced

    if req["kind"] == "algo":
        return {"rows": _run_algo(st, req), "layer": "algos"}
    df = st["g"].query(req["q"])
    rows, rec = collect_traced(st["tracer"], df)
    rec.update(rows=[r[0] for r in rows], layer="exec")
    return rec


# ---------------------------------------------------------------- checks


def _geo_edges(con):
    from grasper_spark.sources.tpch_graph import (
        OFF_CUSTOMER, OFF_NATION, OFF_REGION, OFF_SUPPLIER,
    )

    return (
        f"SELECT n_nationkey + {OFF_NATION} AS src, n_regionkey + {OFF_REGION} AS dst"
        f" FROM nation UNION ALL"
        f" SELECT c_custkey + {OFF_CUSTOMER}, c_nationkey + {OFF_NATION} FROM customer"
        f" UNION ALL"
        f" SELECT s_suppkey + {OFF_SUPPLIER}, s_nationkey + {OFF_NATION} FROM supplier"
    )


def _check_algo(con, req, rows) -> str | None:
    """Exact certificates over every edge of the algorithm subgraph."""
    import pandas as pd

    n_v = con.execute("SELECT (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)"
                      " + (SELECT count(*) FROM customer)"
                      " + (SELECT count(*) FROM supplier)").fetchone()[0]
    edges = _geo_edges(con)
    name = req["name"]
    if name == "cc":
        res = pd.DataFrame(rows, columns=["vid", "comp"])
        con.register("res", res)
        # (joined in two steps: as one three-way join DuckDB plans the
        # label comparison as a res x res nested loop)
        bad = con.execute(
            f"SELECT count(*) FROM (SELECT e.dst, a.comp AS ca FROM ({edges}) e"
            f" JOIN res a ON a.vid = e.src) x JOIN res b ON b.vid = x.dst"
            f" WHERE x.ca <> b.comp").fetchone()[0]
        # every label is the smallest vertex id of its component
        roots = con.execute(
            "SELECT count(*) FROM res a LEFT JOIN res r ON r.vid = a.comp AND r.comp = r.vid"
            " WHERE r.vid IS NULL OR a.comp > a.vid").fetchone()[0]
        n_comp = res["comp"].nunique()
        if len(res) != n_v or bad or roots or n_comp != 5:
            return f"cc: rows={len(res)} bad_edges={bad} bad_roots={roots} comps={n_comp}"
    elif name == "pagerank":
        total = sum(r[1] for r in rows)
        low = min(r[1] for r in rows)
        if len(rows) != n_v or abs(total - n_v) > 1e-6 * n_v or low < 0.15 - 1e-9:
            return f"pagerank: rows={len(rows)} mass={total} min={low}"
    else:
        res = pd.DataFrame(rows, columns=["vid", "dist"])
        con.register("res", res)
        und = f"SELECT src, dst FROM ({edges}) UNION ALL SELECT dst, src FROM ({edges})"
        # no edge skips a level inside the hop limit ...
        bad = con.execute(
            f"SELECT count(*) FROM ({und}) e JOIN res a ON a.vid = e.src"
            f" LEFT JOIN res b ON b.vid = e.dst"
            f" WHERE a.dist < {BFS_HOPS} AND (b.dist IS NULL OR b.dist > a.dist + 1)"
        ).fetchone()[0]
        # ... and every reached vertex has a parent one level closer
        orphans = con.execute(
            f"SELECT count(*) FROM res b WHERE b.dist > 0 AND NOT EXISTS"
            f" (SELECT 1 FROM ({und}) e JOIN res a ON a.vid = e.src"
            f" WHERE e.dst = b.vid AND a.dist = b.dist - 1)").fetchone()[0]
        zero = res.loc[res["dist"] == 0, "vid"].tolist()
        if zero != [req["src"]] or bad or orphans:
            return f"bfs: sources={zero[:3]} bad_edges={bad} orphans={orphans}"
    return None


def check(con, stream_, records) -> dict[int, str]:
    """Request index -> failure, for every record that is wrong."""
    fails: dict[int, str] = {}
    for rec in records:
        if rec["error"]:
            fails[rec["i"]] = rec["error"]
            continue
        req = stream_[rec["i"]]
        if req["kind"] == "algo":
            msg = _check_algo(con, req, rec["rows"])
        else:
            want = [r[0] for r in con.execute(req["sql"]).fetchall()]
            got = rec["rows"]
            ok = ([norm(x) for x in got] == [norm(x) for x in want]
                  if req["name"] == "order_range" else same_multiset(got, want))
            msg = None if ok else f"{req['q']}: got {got[:5]} want {want[:5]}"
        if msg:
            fails[rec["i"]] = msg
    return fails
