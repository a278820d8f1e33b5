"""Randomized differential tests for the iterative graph algorithms:
seeded random graphs evaluated by BOTH the Spark superstep
implementations (grasper_spark.algos) and direct pure-Python graph
code. Complements the fixed-fixture unit tests and the single oracle
graph — random topology is where frontier/convergence bugs hide."""

import random
from collections import deque

import pytest
from pyspark.sql import functions as F

from grasper_spark import PropertyGraph
from grasper_spark.algos import (
    bfs_distances,
    connected_components,
    k_core,
    label_propagation,
    sssp,
    triangle_count,
)


def _random_graph(seed: int, n: int = 24, m: int = 40):
    rng = random.Random(seed)
    vids = list(range(1, n + 1))
    edges = set()
    while len(edges) < m:
        a, b = rng.sample(vids, 2)
        edges.add((a, b))
    weights = {e: rng.randint(1, 9) for e in edges}
    return vids, sorted(edges), weights


def _mk(spark, vids, edges, weights):
    v = spark.createDataFrame([(i, "n") for i in vids], "vid long, label string")
    e = spark.createDataFrame(
        [(a, b, "e", float(weights[(a, b)])) for a, b in edges],
        "src long, dst long, label string, w double",
    )
    return PropertyGraph(v, e)


def _oriented_adj(vids, edges, direction):
    """vid -> neighbor set following `direction` ('out' src→dst, 'in'
    dst→src, 'both' either way)."""
    adj = {v: set() for v in vids}
    for a, b in edges:
        if direction != "in":
            adj[a].add(b)
        if direction != "out":
            adj[b].add(a)
    return adj


SEEDS = [1, 2, 3]

#: first seed runs in the default tier; the extra seeds are the slow
#: sweep (same code path, more random topologies)
TIERED_SEEDS = [
    SEEDS[0],
    *[pytest.param(s, marks=pytest.mark.slow) for s in SEEDS[1:]],
]


DIRECTIONS = ["out", "in", "both"]


@pytest.mark.parametrize("seed", TIERED_SEEDS)
@pytest.mark.parametrize("direction", DIRECTIONS)
def test_bfs_matches_python(spark, direction, seed):
    vids, edges, weights = _random_graph(seed)
    g = _mk(spark, vids, edges, weights)
    src = spark.createDataFrame([(vids[0],)], "vid long")
    got = {r.vid: r.dist for r in
           bfs_distances(g, src, max_hops=10, direction=direction).collect()}
    adj = _oriented_adj(vids, edges, direction)
    want, q = {vids[0]: 0}, deque([vids[0]])
    while q:
        u = q.popleft()
        for w in adj[u]:
            if w not in want:
                want[w] = want[u] + 1
                q.append(w)
    assert got == want


@pytest.mark.parametrize("seed", TIERED_SEEDS)
def test_connected_components_match_python(spark, seed):
    vids, edges, weights = _random_graph(seed, m=18)  # sparse → several comps
    g = _mk(spark, vids, edges, weights)
    got = {r.vid: r.component for r in connected_components(g).collect()}
    adj = _oriented_adj(vids, edges, "both")
    want = {}
    for v in vids:
        if v in want:
            continue
        comp, q = [], deque([v])
        seen = {v}
        while q:
            u = q.popleft()
            comp.append(u)
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    q.append(w)
        cid = min(comp)
        for u in comp:
            want[u] = cid
    # engine's component id = min vid of the component (its documented id)
    assert got == want


@pytest.mark.parametrize("seed", TIERED_SEEDS)
@pytest.mark.parametrize("direction", DIRECTIONS)
def test_sssp_matches_dijkstra(spark, direction, seed):
    import heapq

    vids, edges, weights = _random_graph(seed)
    g = _mk(spark, vids, edges, weights)
    src = spark.createDataFrame([(vids[0],)], "vid long")
    got = {r.vid: r.dist for r in
           sssp(g, src, rounds=30, direction=direction,
                weight=F.col("w")).collect()}
    wadj = {v: [] for v in vids}
    for (a, b), w in weights.items():
        if direction != "in":
            wadj[a].append((b, w))
        if direction != "out":
            wadj[b].append((a, w))
    want, pq = {}, [(0.0, vids[0])]
    while pq:
        d, u = heapq.heappop(pq)
        if u in want:
            continue
        want[u] = d
        for w, c in wadj[u]:
            if w not in want:
                heapq.heappush(pq, (d + c, w))
    assert got == want


@pytest.mark.parametrize("seed", TIERED_SEEDS)
def test_triangles_match_python(spark, seed):
    vids, edges, weights = _random_graph(seed, m=60)
    g = _mk(spark, vids, edges, weights)
    got = triangle_count(g).first()[0]
    adj = _oriented_adj(vids, edges, "both")
    want = sum(
        1
        for a in vids
        for b in adj[a] if b > a
        for c in adj[b] if c > b and c in adj[a]
    )
    assert got == want


@pytest.mark.parametrize("seed", TIERED_SEEDS)
def test_k_core_matches_python(spark, seed):
    vids, edges, weights = _random_graph(seed, m=50)
    g = _mk(spark, vids, edges, weights)
    got = {r.vid: r.degree for r in k_core(g, k=3).collect()}
    adj = _oriented_adj(vids, edges, "both")
    alive = set(vids)
    changed = True
    while changed:
        changed = False
        for v in list(alive):
            if len(adj[v] & alive) < 3:
                alive.discard(v)
                changed = True
    want = {v: len(adj[v] & alive) for v in alive}
    assert got == want


@pytest.mark.parametrize("seed", TIERED_SEEDS[:2])
def test_label_propagation_produces_valid_partition(spark, seed):
    # LPA has no unique ground truth; check the invariants: every vertex
    # labeled, labels are vertex ids, deterministic across reruns
    vids, edges, weights = _random_graph(seed, m=30)
    g = _mk(spark, vids, edges, weights)
    a = {r.vid: r.community for r in label_propagation(g, max_iter=5).collect()}
    b = {r.vid: r.community for r in label_propagation(g, max_iter=5).collect()}
    assert a == b
    assert set(a) == set(vids)
    assert set(a.values()) <= set(vids)


@pytest.mark.parametrize("seed", TIERED_SEEDS[:2])
def test_pagerank_matches_python_power_iteration(spark, seed):
    from grasper_spark.algos import pagerank

    vids, edges, weights = _random_graph(seed, m=35)
    g = _mk(spark, vids, edges, weights)
    got = {r.vid: r.rank for r in pagerank(g, iterations=8).collect()}
    out = {v: [] for v in vids}
    for a, b in edges:
        out[a].append(b)
    d, n = 0.85, len(vids)
    rank = {v: 1.0 for v in vids}
    for _ in range(8):
        dang = sum(rank[v] for v in vids if not out[v])
        nxt = {v: 0.0 for v in vids}
        for u in vids:
            for w in out[u]:
                nxt[w] += rank[u] / len(out[u])
        rank = {v: (1 - d) + d * (nxt[v] + dang / n) for v in vids}
    assert set(got) == set(vids)
    for v in vids:
        assert abs(got[v] - rank[v]) < 1e-6, (v, got[v], rank[v])


@pytest.mark.parametrize("seed", TIERED_SEEDS[:2])
def test_personalized_pagerank_matches_python_power_iteration(spark, seed):
    from grasper_spark.algos import personalized_pagerank

    vids, edges, weights = _random_graph(seed, m=35)
    g = _mk(spark, vids, edges, weights)
    seeds = vids[:3]
    got = {r.vid: r.rank for r in
           personalized_pagerank(g, seeds, iterations=8).collect()}
    out = {v: [] for v in vids}
    for a, b in edges:
        out[a].append(b)
    d, s = 0.85, len(seeds)
    tele = {v: (1.0 / s if v in seeds else 0.0) for v in vids}
    rank = dict(tele)
    for _ in range(8):
        dang = sum(rank[v] for v in vids if not out[v])
        nxt = {v: 0.0 for v in vids}
        for u in vids:
            for w in out[u]:
                nxt[w] += rank[u] / len(out[u])
        rank = {v: (1 - d) * tele[v] + d * (nxt[v] + dang * tele[v]) for v in vids}
    assert set(got) == set(vids)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in vids:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])


@pytest.mark.parametrize("seed", TIERED_SEEDS[:2])
def test_harmonic_centrality_exact_matches_python(spark, seed):
    from grasper_spark.algos import harmonic_centrality

    vids, edges, weights = _random_graph(seed, n=16, m=26)
    g = _mk(spark, vids, edges, weights)
    got = {r.vid: r.harmonic
           for r in harmonic_centrality(g, n_seeds=len(vids), max_hops=20).collect()}
    adj = _oriented_adj(vids, edges, "both")
    want = {}
    for v in vids:
        dist, q = {v: 0}, deque([v])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        want[v] = sum(1.0 / d for u, d in dist.items() if d > 0)
    assert set(got) == set(want)
    for v in vids:  # engine rounds the score to 6 dp
        assert abs(got[v] - round(want[v], 6)) < 1e-9, (v, got[v], want[v])
