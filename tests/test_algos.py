"""Iterative graph algorithm tests on the modern graph (hand-checked)."""

import pytest
from pyspark.sql import functions as F

from grasper_spark.algos import bfs_distances, connected_components, pagerank


def test_bfs_out_from_marko(modern, spark):
    src = spark.createDataFrame([(1,)], ["vid"])
    got = {r.vid: r.dist for r in bfs_distances(modern, src, direction="out").collect()}
    # marko →(knows) vadas,josh →(created) lop,ripple; lop also direct
    assert got == {1: 0, 2: 1, 3: 1, 4: 1, 5: 2}


def test_bfs_both_reaches_everything(modern, spark):
    src = spark.createDataFrame([(5,)], ["vid"])
    got = {r.vid: r.dist for r in bfs_distances(modern, src, direction="both").collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[5] == 0 and got[4] == 1 and got[3] == 2


def test_bfs_edge_label_filter(modern, spark):
    src = spark.createDataFrame([(1,)], ["vid"])
    got = {r.vid: r.dist for r in
           bfs_distances(modern, src, direction="out", edge_label="knows").collect()}
    assert got == {1: 0, 2: 1, 4: 1}


def test_connected_components_single(modern):
    got = {r.vid: r.component for r in connected_components(modern).collect()}
    assert set(got.values()) == {1}  # modern graph is one component


def test_connected_components_two(spark):
    from grasper_spark import PropertyGraph

    v = spark.createDataFrame([(i, "x") for i in range(1, 7)], "vid long, label string")
    e = spark.createDataFrame(
        [(1, 2, "e"), (2, 3, "e"), (4, 5, "e")], "src long, dst long, label string"
    )
    g = PropertyGraph(v, e)
    got = {r.vid: r.component for r in connected_components(g).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6  # isolated


def test_pagerank_sums_and_order(modern):
    ranks = {r.vid: r.rank for r in pagerank(modern, iterations=15).collect()}
    assert abs(sum(ranks.values()) - 6.0) < 0.05
    # lop (3 in-edges) outranks everything; vadas > ripple? both 1 in-edge
    assert ranks[3] == max(ranks.values())
    assert ranks[1] == min(ranks.values()) or ranks[6] == min(ranks.values())


def test_personalized_pagerank_smoke(modern):
    """Default-tier PPR contract: restart mass concentrates on the
    seed, rejects empty seeds (the 2x15-iteration concentration sweep
    is the slow-tier twin)."""
    import pytest as _pt

    from grasper_spark.algos import personalized_pagerank

    ranks = {
        r.vid: r.rank
        for r in personalized_pagerank(modern, seeds=[1], iterations=4).collect()
    }
    assert ranks[1] == max(ranks.values())
    assert ranks[6] < 1e-9
    with _pt.raises(ValueError):
        personalized_pagerank(modern, seeds=[])


def test_personalized_pagerank_dedupes_and_rejects_absent_seeds(modern):
    """A repeated seed counts once (the teleport mass is split over the
    distinct seed set), and a seed that is not a vertex raises instead
    of leaking its teleport share."""
    import pytest as _pt

    from grasper_spark.algos import personalized_pagerank

    one = sorted(personalized_pagerank(modern, seeds=[1], iterations=10).collect())
    assert abs(sum(r.rank for r in one) - 1.0) < 1e-9
    assert sorted(
        personalized_pagerank(modern, seeds=[1, 1], iterations=10).collect()
    ) == one
    with _pt.raises(ValueError, match="99"):
        personalized_pagerank(modern, seeds=[1, 99], iterations=10)


@pytest.mark.slow  # 2x15 supersteps of scheduling overhead; fast PPR smoke keeps the contract
def test_personalized_pagerank_concentrates_on_seed_neighborhood(modern):
    from grasper_spark.algos import personalized_pagerank

    ranks = {
        r.vid: r.rank
        for r in personalized_pagerank(modern, seeds=[1], iterations=15).collect()
    }
    # total mass ~1 (probability interpretation)
    assert abs(sum(ranks.values()) - 1.0) < 0.02
    # the seed holds the most mass; its direct out-neighbors (2=vadas,
    # 3=lop, 4=josh) hold all the rest; 6 (peter) only reaches lop —
    # which never links back toward marko — so peter gets ~0
    assert ranks[1] == max(ranks.values())
    assert ranks[6] < 1e-9
    assert ranks[3] > ranks[6]
    # independent seed → different concentration (peter's PPR loves lop)
    r6 = {
        r.vid: r.rank
        for r in personalized_pagerank(modern, seeds=[6], iterations=15).collect()
    }
    assert r6[6] == max(r6.values()) and r6[3] > r6[2]

    import pytest as _pt

    with _pt.raises(ValueError):
        personalized_pagerank(modern, seeds=[])


def test_triangle_count_modern(modern):
    from grasper_spark.algos import triangle_count

    # the only undirected triangle in 'modern' is {1 (marko), 3 (lop), 4 (josh)}
    assert triangle_count(modern).collect()[0]["n_triangles"] == 1


def test_triangle_count_constructed(spark):
    from grasper_spark import PropertyGraph
    from grasper_spark.algos import triangle_count

    v = spark.createDataFrame([(i, "x") for i in range(1, 6)], "vid long, label string")
    # K4 on {1,2,3,4} → C(4,3)=4 triangles; vertex 5 isolated
    edges = [(a, b, "e") for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(edges, "src long, dst long, label string")
    assert triangle_count(PropertyGraph(v, e)).collect()[0]["n_triangles"] == 4


def test_triangle_count_skewed_hub_bounded_wedges(spark):
    """Degree-ordered orientation keeps the wedge join skew-bounded: a
    hub with neighbors on BOTH sides of its id (the id-canonical worst
    case, (n/2)² wedge rows on one key) must orient all hub edges
    inward, so wedges through the hub are zero."""
    from pyspark.sql import functions as F

    from grasper_spark import PropertyGraph
    from grasper_spark.algos import _adjacency, triangle_count

    n = 200
    hub = n // 2  # ids on both sides of the hub
    v = spark.createDataFrame(
        [(i, "x") for i in range(n + 1)], "vid long, label string"
    )
    spokes = [(hub, i, "e") for i in range(n + 1) if i != hub]
    # every extra edge {x,y} (x,y ≠ hub) closes a triangle with the hub
    # (5 of them) + the hub-free triangle {10,11,12} = 6
    extra = [(1, 2, "e"), (n - 1, n, "e"), (10, 11, "e"), (11, 12, "e"), (10, 12, "e")]
    e = spark.createDataFrame(spokes + extra, "src long, dst long, label string")
    g = PropertyGraph(v, e)
    assert triangle_count(g).collect()[0]["n_triangles"] == 6

    # wedge-mass probe: rebuild the oriented relation the same way and
    # count join rows — must stay O(n), not (n/2)²
    und = _adjacency(g.edges).distinct()
    deg = und.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("deg"))
    withd = (
        und.join(deg.withColumnRenamed("vid", "src"), "src")
        .withColumnRenamed("deg", "ds")
        .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    dir_e = withd.filter(
        F.struct(F.col("ds"), F.col("src")) < F.struct(F.col("dd"), F.col("dst"))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    wedges = dir_e.join(dir_e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b")
    assert wedges.count() <= 4 * n  # id-canonical orientation gives ~(n/2)²


def test_sssp_weighted_out(modern, spark):
    from grasper_spark.algos import sssp

    src = spark.createDataFrame([(1,)], ["vid"])
    got = {r.vid: r.dist for r in
           sssp(modern, src, rounds=3, direction="out",
                weight=F.col("weight")).collect()}
    # direct 1->3 (0.4) beats 1->4->3 (1.0+0.4); 5 only via 4
    assert got == {1: 0.0, 2: 0.5, 3: 0.4, 4: 1.0, 5: 2.0}


def test_sssp_unweighted_matches_bfs(modern, spark):
    from grasper_spark.algos import sssp

    src = spark.createDataFrame([(5,)], ["vid"])
    d_bfs = {r.vid: float(r.dist)
             for r in bfs_distances(modern, src, direction="both").collect()}
    d_sssp = {r.vid: r.dist
              for r in sssp(modern, src, rounds=6, direction="both").collect()}
    assert d_sssp == d_bfs


def test_sssp_bounded_rounds(modern, spark):
    from grasper_spark.algos import sssp

    src = spark.createDataFrame([(5,)], ["vid"])
    got = {r.vid: r.dist
           for r in sssp(modern, src, rounds=1, direction="both").collect()}
    assert got == {5: 0.0, 4: 1.0}  # one relaxation round: direct edges only


def test_k_core_peels_tails(spark):
    from grasper_spark import PropertyGraph
    from grasper_spark.algos import k_core

    # triangle 1-2-3 with pendant chain 3-4-5: the 2-core is exactly the
    # triangle (4 and 5 peel; 3 keeps degree 2 after the peel)
    v = spark.createDataFrame([(i, "x") for i in range(1, 6)], "vid long, label string")
    e = spark.createDataFrame(
        [(1, 2, "e"), (2, 3, "e"), (1, 3, "e"), (3, 4, "e"), (4, 5, "e")],
        "src long, dst long, label string",
    )
    got = {r.vid: r.degree for r in k_core(PropertyGraph(v, e), k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_empty_when_k_too_high(modern, spark):
    from grasper_spark.algos import k_core

    assert k_core(modern, k=4).count() == 0


def test_degree_distribution(modern, spark):
    from grasper_spark.algos import degree_distribution

    got = {r.degree: r.n_vertices
           for r in degree_distribution(modern, "out").collect()}
    # marko 3 out-edges; josh 2; peter 1; vadas/lop/ripple 0
    assert got == {3: 1, 2: 1, 1: 1, 0: 3}
    got_in = {r.degree: r.n_vertices
              for r in degree_distribution(modern, "in").collect()}
    assert got_in == {3: 1, 1: 3, 0: 2}  # lop 3 in; vadas/josh/ripple 1


def test_random_walks_valid_and_deterministic(modern, spark):
    from grasper_spark.algos import random_walks

    out1 = {r.walk_id: list(r.path)
            for r in random_walks(modern, walk_length=3, seed=7).collect()}
    out2 = {r.walk_id: list(r.path)
            for r in random_walks(modern, walk_length=3, seed=7).collect()}
    assert out1 == out2 and len(out1) == 6  # one walk per vertex
    edges = {(a, b) for a, b, _, _ in [
        (1, 2, 0, 0), (1, 3, 0, 0), (1, 4, 0, 0), (4, 5, 0, 0), (4, 3, 0, 0), (6, 3, 0, 0)
    ]}
    for wid, path in out1.items():
        assert path[0] == int(wid.split("#")[0])
        for a, b in zip(path, path[1:]):
            assert (a, b) in edges  # every hop is a real out-edge
        assert len(path) <= 4
    # sinks (2,3,5) stop immediately
    assert out1["2#0"] == [2] and out1["3#0"] == [3] and out1["5#0"] == [5]
    # seed-sensitivity: across a handful of seeds, marko's walk (3
    # out-neighbors) takes more than one distinct route
    first_hops = set()
    for sd in range(5):
        o = {r.walk_id: list(r.path)
             for r in random_walks(modern, walk_length=1, seed=sd).collect()}
        first_hops.add(tuple(o["1#0"]))
    assert len(first_hops) >= 2


def test_random_walks_multiple_per_vertex(modern):
    from grasper_spark.algos import random_walks

    out = random_walks(modern, walk_length=2, walks_per_vertex=3).collect()
    assert len(out) == 18
    starts = {}
    for r in out:
        starts.setdefault(r.start_vid, 0)
        starts[r.start_vid] += 1
    assert all(v == 3 for v in starts.values())


def test_walk_pairs_window(modern, spark):
    from grasper_spark.algos import random_walks, walk_pairs

    walks = random_walks(modern, walk_length=3, seed=7)
    pairs = walk_pairs(walks, window=1).collect()
    paths = {r.walk_id: list(r.path) for r in walks.collect()}
    want = []
    for p in paths.values():
        for i, c in enumerate(p):
            for j in range(max(0, i - 1), min(len(p), i + 2)):
                if j != i:
                    want.append((c, p[j]))
    got = sorted((r.center, r.context) for r in pairs)
    assert got == sorted(want) and len(got) > 0


def test_harmonic_centrality_exact_with_all_seeds(modern):
    from grasper_spark.algos import harmonic_centrality

    # n_seeds = |V| -> exact undirected harmonic centrality; hand-check
    # lop(3): neighbors 1,4,6 at d=1; 2,5 at d=2 -> 3 + 1 = 4.0
    got = {r.vid: (r.harmonic, r.reached)
           for r in harmonic_centrality(modern, n_seeds=6).collect()}
    assert got[3] == (4.0, 5)
    # vadas(2): 1 at d=1; 3,4 at d=2; 5,6 at d=3 -> 1 + 1 + 2/3
    assert got[2] == (round(1 + 1 + 2 / 3, 6), 5)
    # determinism across runs
    again = {r.vid: (r.harmonic, r.reached)
             for r in harmonic_centrality(modern, n_seeds=6).collect()}
    assert got == again


def test_label_propagation_two_cliques(spark):
    # two 4-cliques joined by one bridge edge: LPA must keep them as two
    # communities (the bridge cannot out-vote 3 intra-clique neighbors)
    from grasper_spark.algos import label_propagation
    from grasper_spark.graph import PropertyGraph

    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges += [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    edges += [(4, 11)]  # bridge
    v = spark.createDataFrame(
        [(i, "n") for i in [*range(1, 5), *range(11, 15)]], "vid long, label string"
    )
    e = spark.createDataFrame(
        [(a, b, "e") for a, b in edges], "src long, dst long, label string"
    )
    g = PropertyGraph(v, e, name="cliques")
    got = {r.vid: r.community for r in label_propagation(g, max_iter=6).collect()}
    left = {got[i] for i in range(1, 5)}
    right = {got[i] for i in range(11, 15)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_label_propagation_isolated_vertex_keeps_own_vid(spark):
    from grasper_spark.algos import label_propagation
    from grasper_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "n"), (2, "n"), (99, "n")], "vid long, label string"
    )
    e = spark.createDataFrame([(1, 2, "e")], "src long, dst long, label string")
    g = PropertyGraph(v, e, name="iso")
    got = {r.vid: r.community for r in label_propagation(g, max_iter=4).collect()}
    assert got[99] == 99
    assert got[1] == got[2]


def test_common_neighbors_matches_naive(spark, modern):
    from grasper_spark.algos import common_neighbors

    got = {
        (r.a, r.b): (r.n_common, r.jaccard)
        for r in common_neighbors(modern, min_common=1).collect()
    }
    # naive python ground truth over the undirected modern graph
    edges = [(r.src, r.dst) for r in modern.edges.collect()]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want = {}
    vs = sorted(adj)
    for i, a in enumerate(vs):
        for b in vs[i + 1:]:
            c = len(adj[a] & adj[b])
            if c >= 1:
                want[(a, b)] = (c, round(c / len(adj[a] | adj[b]), 6))
    assert got == want


def test_common_neighbors_hub_cap_drops_middle_role(spark, modern):
    from grasper_spark.algos import common_neighbors

    # with max_degree=1 every shared-neighbor middle vertex is a hub ->
    # no pairs survive
    assert common_neighbors(modern, max_degree=1).count() == 0
