"""`serve` workload: point reads, ad-hoc reads and edge appends on the
scale-0.1 graph, ``nproc`` clients, closed loop.

- Point reads (~80%): ``G.prepare(t).rows(v)`` handles, built at
  set-up, for the ``configs/emu_tpch.txt`` templates.
- Ad-hoc reads (~20%): ``G.query(q).collect()`` for the
  ``configs/emu_fallback.txt`` templates plus one template that reads
  the label the writes add.
- Writes (one per WRITE_EVERY requests, at fixed request counts): a
  seeded batch of new ``refers`` edges is appended to a parquet edge
  log the handle's ``graph_loader`` unions in, then ``G.refresh()``,
  then ``BuildIndex`` again, then a read that must see the new edges.
  A write runs alone (reads wait), so every read's data version is
  known. Point templates never traverse ``refers``, so their handles
  stay exact under prepared.py's staleness contract.

A run measures whole write periods. The first WARMUP requests of the
stream's first period warm the session during set-up, and timing starts
at the second period.

Parameter values are Zipf-skewed over each key's domain: the ``name``
domain is far larger than the 1,024-entry row/plan LRUs, the
``mktsegment`` domain (5 values) fits inside them."""

from __future__ import annotations

import bisect
import os
import random
import shutil
import time
from collections import Counter

from perfbench.core import DATA, ROOT, RWLock, canon, collect_traced, nproc

NAME = "serve"
CLIENTS = nproc()
POINT_SHARE = 0.8
WRITE_EVERY = 1000
CYCLE = WRITE_EVERY
STREAM_CYCLES = 30  # far more than any window uses
WARMUP = 25
WRITE_EDGES = 64
ZIPF_S = 1.1
N_CUSTOMERS = 15_000  # scale 0.1
WRITERS = 200  # refers edges start at the first 200 customers


def _cname(k: int) -> str:
    return f"Customer#{k:09d}"


def templates() -> tuple[list, list]:
    """(point, ad-hoc) templates, as ``grasper_spark.emu.EmuTemplate``."""
    from grasper_spark.emu import EmuTemplate, parse_emu_config

    def read(name):
        with open(os.path.join(ROOT, "configs", name)) as fh:
            return parse_emu_config(fh.read())[2]

    refers = EmuTemplate('g.V().has("name","$RAND").out("refers").values("name")',
                         "refers_src", 10.0)
    return read("emu_tpch.txt"), read("emu_fallback.txt") + [refers]


def domains(con) -> dict[str, list]:
    """Each template key's value domain, read from the fixture tables."""
    return {
        "name": [r[0] for r in con.execute(
            "SELECT DISTINCT nm FROM (SELECT r_name AS nm FROM region"
            " UNION ALL SELECT n_name FROM nation UNION ALL SELECT c_name FROM customer"
            " UNION ALL SELECT s_name FROM supplier UNION ALL SELECT p_name FROM part)"
            " ORDER BY 1").fetchall()],
        "mktsegment": [r[0] for r in con.execute(
            "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1").fetchall()],
        "acctbal": [r[0] for r in con.execute(
            "SELECT DISTINCT c_acctbal FROM customer ORDER BY 1").fetchall()],
        "refers_src": [_cname(k) for k in range(WRITERS)],
    }


class _Zipf:
    def __init__(self, values: list, rng: random.Random):
        self.values = values[:]
        rng.shuffle(self.values)  # which values are hot is seeded
        acc, self.cum = 0.0, []
        for r in range(len(self.values)):
            acc += 1.0 / (r + 1) ** ZIPF_S
            self.cum.append(acc)

    def draw(self, rng: random.Random):
        return self.values[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


def _fill(template: str, value) -> str:
    if '"$RAND"' in template:
        return template.replace("$RAND", str(value))
    return template.replace("$RAND", repr(float(value)))


def _edge_batch(rng, used: set) -> list[tuple[int, int]]:
    out = []
    while len(out) < WRITE_EDGES:
        e = (rng.randrange(WRITERS), rng.randrange(N_CUSTOMERS))
        if e[0] != e[1] and e not in used:
            used.add(e)
            out.append(e)
    return out


def initial_edges() -> list[tuple[int, int]]:
    """The edge log's first batch, written at set-up (not seeded by the
    run: every run starts from the same graph)."""
    return _edge_batch(random.Random("serve:initial"), set())


def stream(seed: int, n_cycles: int, con) -> list[dict]:
    rng = random.Random(f"serve:{seed}")
    doms = domains(con)
    points, adhoc = templates()
    zipf = {k: _Zipf(v, rng) for k, v in sorted(doms.items())}
    used = set(initial_edges())

    def pick(ts):
        tot = sum(t.ratio for t in ts)
        x, acc = rng.random() * tot, 0.0
        for idx, t in enumerate(ts):
            acc += t.ratio
            if x < acc:
                return idx
        return len(ts) - 1

    out: list[dict] = []
    for i in range(n_cycles * CYCLE):
        if i % WRITE_EVERY == WRITE_EVERY - 1:
            edges = _edge_batch(rng, used)
            out.append({"kind": "write", "edges": edges, "probe": edges[0][0]})
        elif rng.random() < POINT_SHARE:
            t = pick(points)
            out.append({"kind": "point", "t": t, "v": zipf[points[t].key].draw(rng)})
        else:
            t = pick(adhoc)
            v = zipf[adhoc[t].key].draw(rng)
            out.append({"kind": "adhoc", "t": t, "v": v, "q": _fill(adhoc[t].query, v)})
    return out


def stop_at(i: int) -> bool:
    return i % CYCLE == 0


def trace_slice(timed: list[dict]) -> list[dict]:
    """The traced run's requests: the last quarter of the first timed
    write period, which ends with its write."""
    return timed[CYCLE * 3 // 4: CYCLE]


# ------------------------------------------------------------- execution


def _log_dir() -> str:
    return os.path.join(DATA, "run", "serve_log")


def _append(spark, edges) -> None:
    from grasper_spark.sources.tpch_graph import OFF_CUSTOMER

    rows = [(a + OFF_CUSTOMER, b + OFF_CUSTOMER, "refers") for a, b in edges]
    spark.createDataFrame(rows, "src long, dst long, label string").coalesce(1) \
        .write.mode("append").parquet(_log_dir())


def setup(spark, fx, tracer) -> dict:
    from grasper_spark import G
    from grasper_spark.graph import PropertyGraph
    from perfbench.core import cached_bytes
    from perfbench.fixtures import attach_graph

    shutil.rmtree(_log_dir(), ignore_errors=True)
    with tracer.span("sources.attach"):
        base = attach_graph(spark, fx).cache()
        base.edge_count()
    tracer.count("sources.cached_bytes", cached_bytes(spark))
    _append(spark, initial_edges())

    def loader():
        log = spark.read.parquet(_log_dir())
        return PropertyGraph(
            base.vertices,
            base.edges.unionByName(log, allowMissingColumns=True),
            name="tpch-graph+log",
        )

    g = G(loader(), graph_loader=loader)
    g.query("BuildIndex(V,'name')")
    handles = [g.prepare(t.query) for t in templates()[0]]
    return {"spark": spark, "g": g, "handles": handles, "tracer": tracer,
            "rw": RWLock(), "version": 0,
            "refers": Counter(a for a, _ in initial_edges())}


def handle_stats(st) -> Counter:
    """Summed hit counters (row_hits, plan_hits, cold) of the handles
    that keep them: the per-query tier's ``stats``."""
    out: Counter = Counter()
    for h in st["handles"]:
        out.update(getattr(h, "stats", {}))
    return out


def execute(st, i, req) -> dict:
    tr = st["tracer"]
    if req["kind"] == "write":
        with st["rw"].write():
            t0 = time.perf_counter()
            with tr.span("ingest.append"):
                _append(st["spark"], req["edges"])
            st["g"].refresh()
            st["g"].query("BuildIndex(V,'name')")
            st["version"] += 1
            st["refers"].update(a for a, _ in req["edges"])
            # the first read that sees the new edges ends the interval
            q = f'g.V().has("name","{_cname(req["probe"])}").out("refers").count()'
            for _ in range(20):
                n = st["g"].query(q).collect()[0][0]
                if n == st["refers"][req["probe"]]:
                    break
            return {"version": st["version"], "rows": [n], "layer": "ingest",
                    "visible_ms": (time.perf_counter() - t0) * 1000.0}
    with st["rw"].read():
        version = st["version"]
        if req["kind"] == "point":
            rows = st["handles"][req["t"]].rows(req["v"])
            return {"version": version, "rows": [r[0] for r in rows], "layer": "prepared"}
        g = st["g"]
        # a plan-cache hit re-runs a DataFrame that was planned before
        planned = not (tr.on and g._caching_on() and req["q"] in g._plan_cache)
        rows, rec = collect_traced(tr, g.query(req["q"]), planned)
        rec.update(version=version, rows=[r[0] for r in rows], layer="exec")
        return rec


# ---------------------------------------------------------------- checks

#: per template: DuckDB (key, value) rows for a table ``keys(k)``; the
#: answer for key k is the multiset of values paired with it
_ANSWERS = {
    'g.V().has("name","$RAND").coin(0.5).out("placed").values("totalprice")':
        "SELECT c_name, o_totalprice FROM customer JOIN orders ON o_custkey = c_custkey"
        " WHERE c_name IN (SELECT k FROM keys)",
    'g.V().has("mktsegment","$RAND").coin(0.9).values("name")':
        "SELECT c_mktsegment, c_name FROM customer WHERE c_mktsegment IN (SELECT k FROM keys)",
    'g.V().has("mktsegment","$RAND").values("name")':
        "SELECT c_mktsegment, c_name FROM customer WHERE c_mktsegment IN (SELECT k FROM keys)",
    'g.V().has("name","$RAND").properties("name")':
        "SELECT nm, '{name:' || nm || '}' FROM (SELECT r_name AS nm FROM region"
        " UNION ALL SELECT n_name FROM nation UNION ALL SELECT c_name FROM customer"
        " UNION ALL SELECT s_name FROM supplier UNION ALL SELECT p_name FROM part)"
        " WHERE nm IN (SELECT k FROM keys)",
    'g.V().hasLabel("customer").has("acctbal",$RAND).values("name")':
        "SELECT c_acctbal, c_name FROM customer WHERE c_acctbal IN (SELECT k FROM keys)",
    'g.V().has("mktsegment","$RAND").out("placed").values("totalprice")':
        "SELECT c_mktsegment, o_totalprice FROM customer JOIN orders"
        " ON o_custkey = c_custkey WHERE c_mktsegment IN (SELECT k FROM keys)",
}
_SAMPLED = ("coin(",)  # coin() keeps a seeded subset: check containment


def _answers(con, template: str, keys: set) -> dict:
    """Key -> expected multiset of values."""
    import pandas as pd

    con.register("keys", pd.DataFrame({"k": sorted(keys)}))
    out: dict = {k: [] for k in keys}
    for k, v in con.execute(_ANSWERS[template]).fetchall():
        out[k].append(v)
    con.unregister("keys")
    return {k: canon(v) for k, v in out.items()}


def check(con, stream_, records) -> dict[int, str]:
    points, adhoc = templates()
    fails: dict[int, str] = {}
    todo = []
    for rec in records:
        if rec["error"]:
            fails[rec["i"]] = rec["error"]
        else:
            todo.append((rec, stream_[rec["i"]]))
    # the refers edges each data version holds
    batches = [initial_edges()] + [req["edges"] for req in stream_ if req["kind"] == "write"]
    by_kind: dict = {}
    for rec, req in todo:
        if req["kind"] != "write":
            ts = points if req["kind"] == "point" else adhoc
            by_kind.setdefault(ts[req["t"]].query, []).append((rec, req))
    for template, items in by_kind.items():
        if template == adhoc[-1].query:
            for rec, req in items:
                src = int(req["v"].split("#")[1])
                want = [_cname(b) for batch in batches[: rec["version"] + 1]
                        for a, b in batch if a == src]
                if canon(rec["rows"]) != canon(want):
                    fails[rec["i"]] = f"{req['q']}@v{rec['version']}: {rec['rows'][:3]}"
            continue
        ans = _answers(con, template, {req["v"] for _, req in items})
        sampled = any(s in template for s in _SAMPLED)
        passed: dict = {}  # value -> a result already checked (repeats are common)
        for rec, req in items:
            if passed.get(req["v"]) == rec["rows"]:
                continue
            got, want = canon(rec["rows"]), ans[req["v"]]
            if not (all(want[k] >= n for k, n in got.items()) if sampled else got == want):
                fails[rec["i"]] = f"{template} [{req['v']}]: got {rec['rows'][:3]}"
            elif not sampled:
                passed[req["v"]] = rec["rows"]
    for rec, req in todo:
        if req["kind"] == "write":
            want = sum(1 for batch in batches[: rec["version"] + 1]
                       for a, _ in batch if a == req["probe"])
            if rec["rows"] != [want]:
                fails[rec["i"]] = f"write probe saw {rec['rows']}, want [{want}]"
    return fails

