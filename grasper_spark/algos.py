"""Iterative graph algorithms — the unbounded-`repeat` extension.

Grasper parses `repeat()` but executes it as a single-pass union
(its core/parser.cpp); these algorithms are the parity-plus path
SURVEY.md §7 phase 4 calls for: a Pregel-style driver loop over
DataFrames (PySpark has no GraphX binding — the message-passing
pattern is expressed as join + groupBy per superstep, which is
exactly what GraphX compiles to anyway).

Scale notes:
- each superstep is one shuffle (join on dst + groupBy vid); frontiers
  shrink monotonically for BFS, so later supersteps are cheap.
- every superstep is materialized: `_iterate` (fixed-state loops),
  `_bfs` (frontier loops) and `k_core`'s peel `localCheckpoint` each
  round. A superstep references the previous state 2-3 times, so an
  unmaterialized window grows the LOGICAL PLAN 2-3x per round and the
  driver's planning time is exponential in the window (6-vertex graph,
  pagerank(iterations=15): 278 s of planning with 5 rounds per
  checkpoint vs 6.5 s with 1, identical ranks). Batching rounds saves
  no shuffle, so a per-round |state|-row write keeps the plan flat —
  GraphX's per-iteration materialization.
- connected components uses large-star/small-star-ish min-label
  propagation; converges in O(log n) rounds on real graphs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grasper_spark.graph import PropertyGraph


def _adjacency(edges: DataFrame, direction: str = "both", *cols) -> DataFrame:
    """(src, dst, *cols) oriented for `direction`: 'out' keeps src→dst,
    'in' reverses it, anything else ('both') is the union of the two."""
    fwd = edges.select(F.col("src"), F.col("dst"), *cols)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
    if direction == "out":
        return fwd
    if direction == "in":
        return rev
    return fwd.unionByName(rev)


def _links(edges: DataFrame, direction: str = "both") -> DataFrame:
    """Distinct (_s, _d) message routes — the join side of a superstep."""
    return _adjacency(edges, direction).distinct().select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    )


def _iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """The fixed-state superstep loop: `state = step(state, round)`,
    materialized every round, for up to `rounds` rounds. `converged(old,
    new)` only compares two materialized rounds (a cheap join of
    checkpoints), never the unmaterialized input state."""
    prev = None
    for i in range(rounds):
        state = step(state, i).localCheckpoint(eager=True)
        if converged is not None and prev is not None and converged(prev, state):
            break
        prev = state
    return state


def _bfs(
    adj: DataFrame, visited: DataFrame, keys: list[str], max_hops: int
) -> DataFrame:
    """Frontier/anti-join BFS over `adj` (_s, _d) from `visited` (*keys,
    vid, dist=0): each hop expands the last frontier and drops (*keys,
    vid) pairs already visited; stops at the first empty frontier."""
    frontier = visited
    for hop in range(1, max_hops + 1):
        # qualified aliases: frontier derives from adj after hop 1, so an
        # unqualified join would trip AMBIGUOUS_SELF_JOIN
        nxt = (
            frontier.alias("f")
            .join(adj.alias("a"), F.col("f.vid") == F.col("a._s"), "inner")
            .select(*[f"f.{k}" for k in keys], F.col("a._d").alias("vid"))
            .distinct()
            .join(visited.select(*keys, "vid"), [*keys, "vid"], "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def _power_iteration(
    graph: PropertyGraph, ranks: DataFrame, iterations: int,
    contrib: Column, update: Column, zero,
) -> DataFrame:
    """`iterations` power steps from `ranks` (vid, <rank>): every edge
    carries `contrib` (over r.<rank>, r.deg), summed per dst as `in_sum`;
    the dangling mass `_dang` is a 1-row aggregate broadcast-crossJoined
    into `update` (the next rank), so a step is one Spark job with no
    driver round-trip. `zero` is the rank type's zero."""
    rank = ranks.columns[1]
    v = graph.vertices.select("vid")
    out_deg = graph.edges.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    edges = graph.edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            ranks.join(out_deg, "vid", "inner").alias("r")
            .join(edges.alias("e"), F.col("r.vid") == F.col("e._s"), "inner")
            .select(F.col("e._d").alias("vid"), contrib.alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = (
            ranks.join(out_deg, "vid", "left_anti")
            .agg(F.coalesce(F.sum(rank), F.lit(zero)).alias("_dang"))
        )
        return (
            v.join(contribs, "vid", "left")
            .na.fill({"in_sum": zero})
            .crossJoin(F.broadcast(dangling))
            .select("vid", update.alias(rank))
        )

    return _iterate(ranks, step, iterations)


def bfs_distances(
    graph: PropertyGraph,
    sources: DataFrame,
    max_hops: int = 10,
    direction: str = "out",
    edge_label: str | None = None,
) -> DataFrame:
    """Multi-source BFS: (vid, dist) for every vertex reachable from
    `sources` (a DataFrame with a `vid` column) within max_hops.

    direction: 'out' follows src→dst, 'in' follows dst→src, 'both'
    ignores direction."""
    e = graph.edges
    if edge_label is not None:
        e = e.filter(F.col("label") == edge_label)
    visited = sources.select("vid").distinct().withColumn("dist", F.lit(0))
    return _bfs(_links(e, direction), visited, [], max_hops)


def connected_components(graph: PropertyGraph, max_iter: int = 20) -> DataFrame:
    """(vid, component) — undirected connected components by iterative
    min-id propagation; component = smallest vid in the component."""
    adj = _links(graph.edges)

    def step(labels: DataFrame, _: int) -> DataFrame:
        # each vertex adopts min(own, neighbors') component label
        msgs = (
            labels.alias("l")
            .join(adj.alias("a"), F.col("l.vid") == F.col("a._s"), "inner")
            .select(F.col("a._d").alias("vid"), F.col("l.component").alias("component"))
        )
        return labels.unionByName(msgs).groupBy("vid").agg(
            F.min("component").alias("component")
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        # min-label propagation is monotone: one unchanged round ⇔ done
        return (
            new.alias("n")
            .join(old.alias("o"), "vid")
            .filter(F.col("n.component") != F.col("o.component"))
            .isEmpty()
        )

    labels = graph.vertices.select("vid").withColumn("component", F.col("vid"))
    return _iterate(labels, step, max_iter, converged)


def triangle_count(graph: PropertyGraph) -> DataFrame:
    """Global undirected triangle count — compact-forward / degree-ordered
    wedge join. One row, column `n_triangles`.

    Edges are ORIENTED low→high by (degree, vid) — the compact-forward
    ordering (Latapy 2008; also GraphX's triangleCount) — so every vertex's
    forward out-degree is skew-bounded: a hub of degree d keeps only its
    higher-degree neighbors as out-edges, making the wedge join's per-key
    fan-out O(√m) amortized instead of d². Wedges a→b→c (a ≺ b ≺ c) are
    closed against the oriented edge a→c; each triangle appears exactly
    once, with its lowest-order vertex as `a`.

    Scale: id-canonicalized orientation (the naive a<b) produces d² wedge
    rows on ONE shuffle key for a hub with neighbors on both sides of its
    id — a straight scale-killer at Twitter-scale max-degrees (reference
    BASELINE Table 3). Degree ordering bounds Σ outdeg² by O(m^1.5)
    regardless of skew; no salting needed because the orientation itself
    removes the hot key."""
    e = _adjacency(graph.edges).distinct()  # both directions present
    deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # each undirected edge appears once per direction: keep the direction
    # whose (deg, vid) source precedes its destination
    withd = (
        e.join(deg.withColumnRenamed("vid", "src"), "src")
        .withColumnRenamed("deg", "ds")
        .join(
            deg.select(F.col("vid").alias("dst"), F.col("deg").alias("dd")),
            "dst",
        )
    )
    dir_e = withd.filter(
        F.struct(F.col("ds"), F.col("src")) < F.struct(F.col("dd"), F.col("dst"))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = dir_e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = dir_e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        dir_e.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")), "inner")
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    graph: PropertyGraph, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """(vid, rank) after `iterations` power steps; ranks sum to ~|V|.
    Dangling mass is redistributed uniformly each step.

    The dangling-mass scalar stays IN the plan (see `_power_iteration`),
    so each iteration is one Spark job with no driver round-trip (the
    |V| count is the only driver-side scalar, computed once)."""
    v = graph.vertices.select("vid")
    n = v.count()
    return _power_iteration(
        graph,
        v.withColumn("rank", F.lit(1.0)),
        iterations,
        contrib=F.col("r.rank") / F.col("r.deg"),
        update=F.lit(1 - damping)
        + F.lit(damping) * (F.col("in_sum") + F.col("_dang") / F.lit(float(n))),
        zero=0.0,
    )


def pagerank_qint(
    graph: PropertyGraph, iterations: int = 10,
    damping_num: int = 17, damping_den: int = 20, scale: int = 10**9,
) -> DataFrame:
    """Integer-exact PageRank for exact-compare gates: ranks are int64
    nano-units (`scale` per initial unit) and every step is pure integer
    arithmetic — per-edge contribution ``rank_q div deg``, fold-order-
    free integer sums, and the update ``(den-num)·scale div den +
    num·(in_sum + dang div n) div den`` with damping = num/den (default
    17/20 = 0.85). Truncation (≤1 nano-unit per op) is deterministic,
    so ANY engine reproduces identical values — unlike the float form,
    whose cross-row sums are fold-order-sensitive and whose rounding
    differs across engines (the ledger's r4/r5 bug class).

    Same plan shape as :func:`pagerank`: one job per iteration, the
    dangling-mass scalar broadcast in-plan. int64 bound: total mass is
    ~|V|·scale, so |V| ≤ ~9e9 at the default scale."""
    v = graph.vertices.select("vid")
    n = v.count()
    if n == 0:
        return v.withColumn("rank_q", F.lit(0).cast("long"))
    if n * scale * damping_num > 2**62:
        raise ValueError(
            f"pagerank_qint: |V|·scale·num = {n * scale * damping_num} "
            f"risks int64 overflow — lower the scale"
        )
    base = ((damping_den - damping_num) * scale) // damping_den
    return _power_iteration(
        graph,
        v.withColumn("rank_q", F.lit(scale).cast("long")),
        iterations,
        contrib=F.expr("rank_q div deg"),
        update=F.expr(
            f"{base} + ({damping_num} * (in_sum + _dang div {n})) div {damping_den}"
        ).cast("long"),
        zero=0,
    )


def personalized_pagerank(
    graph: PropertyGraph, seeds: list[int], iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """(vid, rank) — PageRank with the teleport restricted to `seeds`:
    rank(v) = (1-d)·1[v∈S]/|S| + d·(Σ in-contribs + dangling/|S|·1[v∈S]).
    The standard proximity / recommendation score ("PPR from this
    user"); ranks sum to ~1 and concentrate around the seed set.

    Duplicate seeds count once; a seed that is not a vertex raises
    ValueError (it would take a teleport share no vertex receives, so
    the ranks would no longer sum to 1). Same superstep shape as
    `pagerank`; the seed set is a literal isin filter, so the teleport
    term costs no join."""
    seeds = list(dict.fromkeys(seeds))
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    v = graph.vertices.select("vid")
    is_seed = F.col("vid").isin(seeds)
    present = {r.vid for r in v.filter(is_seed).collect()}
    missing = [s for s in seeds if s not in present]
    if missing:
        raise ValueError(f"personalized_pagerank: seeds not in the graph: {missing}")
    s = float(len(seeds))
    return _power_iteration(
        graph,
        v.withColumn("rank", F.when(is_seed, F.lit(1.0 / s)).otherwise(F.lit(0.0))),
        iterations,
        contrib=F.col("r.rank") / F.col("r.deg"),
        update=F.when(is_seed, F.lit((1 - damping) / s)).otherwise(F.lit(0.0))
        + F.lit(damping)
        * (
            F.col("in_sum")
            + F.when(is_seed, F.col("_dang") / F.lit(s)).otherwise(F.lit(0.0))
        ),
        zero=0.0,
    )


def sssp(
    graph: PropertyGraph,
    sources: DataFrame,
    rounds: int = 4,
    direction: str = "both",
    weight: Column | None = None,
) -> DataFrame:
    """Weighted single/multi-source shortest paths, Bellman-Ford style:
    (vid, dist) where dist is the minimum total weight over paths of at
    most `rounds` edges from any source (exact once rounds reaches the
    weighted-shortest-path hop bound). `weight` is a Column evaluated
    per edge row (default 1.0/hop — unweighted).

    Scale: no priority queue — each round is one frontier×edges
    equi-join plus one min-groupBy (partial aggregation map-side), the
    data-parallel trade a cluster wants over Dijkstra's sequential
    queue. Results are deterministic: each candidate distance is a
    fixed-order sum along its path and min() is order-insensitive.
    """
    w = (weight if weight is not None else F.lit(1.0)).cast("double")
    adj = _adjacency(graph.edges, direction, w.alias("_w")).select(
        F.col("src").alias("_s"), F.col("dst").alias("_d"), "_w"
    )

    def step(dists: DataFrame, _: int) -> DataFrame:
        relaxed = (
            dists.alias("r")
            .join(adj.alias("a"), F.col("r.vid") == F.col("a._s"), "inner")
            .select(
                F.col("a._d").alias("vid"),
                (F.col("r.dist") + F.col("a._w")).alias("dist"),
            )
        )
        return (
            dists.unionByName(relaxed).groupBy("vid").agg(F.min("dist").alias("dist"))
        )

    dists = sources.select("vid").distinct().withColumn("dist", F.lit(0.0))
    return _iterate(dists, step, rounds)


def k_core(graph: PropertyGraph, k: int = 2, max_iter: int = 20) -> DataFrame:
    """The k-core: iteratively peel vertices whose undirected degree is
    < k until none remain; returns (vid, degree) of survivors with their
    within-core degree. Peeling is monotone — once converged, extra
    rounds are no-ops, so an early break and a fixed-round unroll (the
    oracle) agree.

    Scale: each round is one degree groupBy (partial agg) + two
    semi-joins to drop edges touching peeled vertices; the edge set only
    shrinks. Convergence = surviving-vertex count stable (a count() per
    round on the already-aggregated degree relation — cheap). Both
    relations are materialized every round."""
    adj = _links(graph.edges)
    prev_n = deg = None
    for _ in range(max_iter):
        deg = adj.groupBy("_s").agg(F.count(F.lit(1)).alias("degree")).filter(
            F.col("degree") >= k
        ).localCheckpoint(eager=True)
        n = deg.count()
        if n == prev_n or n == 0:
            break
        prev_n = n
        keep = deg.select("_s")
        adj = (
            adj.join(keep, "_s", "left_semi")
            .join(keep.withColumnRenamed("_s", "_d"), "_d", "left_semi")
            .localCheckpoint(eager=True)
        )
    return deg.select(F.col("_s").alias("vid"), "degree")


def degree_distribution(
    graph: PropertyGraph, direction: str = "out",
    edge_label: str | None = None,
) -> DataFrame:
    """Degree histogram: (degree, n_vertices), including degree 0 —
    the first diagnostic for skew planning (a heavy tail says which
    joins need salting / AQE skew handling before you run them).

    Scale: one partial-agg groupBy per side — never materializes a
    per-vertex adjacency list."""
    e = graph.edges
    if edge_label is not None:
        e = e.filter(F.col("label") == edge_label)
    deg = _adjacency(e, direction).groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    with_zero = (
        graph.vertices.select("vid")
        .join(deg, "vid", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return with_zero.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


def random_walks(
    graph: PropertyGraph,
    walk_length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    direction: str = "out",
) -> DataFrame:
    """Deterministic pseudo-random walks (DeepWalk/GraphSAGE sampling):
    (walk_id, start_vid, path array<vid>). Each step picks the neighbor
    ranked xxhash64(seed, walk_id, step) mod degree — no RNG state, so
    the same graph + seed reproduces the same walks on any cluster
    layout, and the walk corpus can be re-derived instead of stored.
    Walks stop early at sinks (path shorter than walk_length+1).

    Scale: one equi-join + one ranked-neighbor pick per step (the
    neighbor rank is a window per source vertex, computed ONCE and
    reused across all steps). Output is walks_per_vertex × |V| rows
    with arrays of ≤ walk_length+1 vids.
    """
    adj = _adjacency(graph.edges, direction).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    ranked = (
        adj.withColumn("_rk", F.row_number().over(w) - 1)
        .withColumn("_deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )

    def step(walks: DataFrame, i: int) -> DataFrame:
        # done walks must NOT re-enter the join (a done row joined
        # against its vertex's ranked neighbors would fan out by degree)
        active = walks.filter(~F.col("_done"))
        done = walks.filter(F.col("_done"))
        stepped = (
            active.alias("wk")
            .join(ranked.alias("r"), F.col("wk._cur") == F.col("r.src"), "left")
            .filter(
                F.col("r.src").isNull()  # sink: stop early
                | (
                    F.col("r._rk")
                    == F.pmod(
                        F.xxhash64(F.lit(seed), F.col("wk.walk_id"), F.lit(i)),
                        F.col("r._deg"),
                    )
                )
            )
            .select(
                "wk.walk_id", "wk.start_vid",
                F.when(F.col("r.dst").isNull(), F.col("wk.path"))
                .otherwise(F.array_append("wk.path", F.col("r.dst"))).alias("path"),
                F.coalesce(F.col("r.dst"), F.col("wk._cur")).alias("_cur"),
                F.col("r.dst").isNull().alias("_done"),
            )
        )
        return stepped.unionByName(done)

    walks = (
        graph.vertices.select("vid")
        .crossJoin(F.broadcast(
            graph.vertices.sparkSession.range(walks_per_vertex)
            .withColumnRenamed("id", "_w")
        ))
        .select(
            F.concat_ws("#", F.col("vid").cast("string"), F.col("_w").cast("string"))
            .alias("walk_id"),
            F.col("vid").alias("start_vid"),
            F.array(F.col("vid")).alias("path"),
            F.col("vid").alias("_cur"),
            F.lit(False).alias("_done"),
        )
    )
    return _iterate(walks, step, walk_length).select("walk_id", "start_vid", "path")


def walk_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) skip-gram pairs from random_walks output — the
    training-example generator for DeepWalk/node2vec-style embedding
    jobs. Every ordered pair of vids within `window` positions of each
    other on a path is emitted (both directions, like word2vec).

    Scale: pure per-row array work (sequence + posexplode) — no shuffle;
    output ≤ 2·window·Σ path lengths rows."""
    idx = F.posexplode(F.col("path"))
    exploded = walks.select("walk_id", F.col("path"), idx.alias("pos", "center"))
    ctx = F.explode(
        F.filter(
            F.transform(
                F.sequence(
                    F.greatest(F.col("pos") - window, F.lit(0)),
                    F.least(F.col("pos") + window, F.size("path") - 1),
                ),
                lambda j: F.when(j != F.col("pos"), F.element_at(F.col("path"), j + 1)),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return exploded.select("center", ctx.alias("context"))


def harmonic_centrality(
    graph: PropertyGraph,
    n_seeds: int = 16,
    max_hops: int = 6,
    direction: str = "both",
) -> DataFrame:
    """Approximate harmonic centrality by sampled multi-source BFS
    (Eppstein–Wang): pick `n_seeds` deterministic seeds (md5-ranked —
    reproducible anywhere), run ONE BFS whose frontier carries
    (seed, vid) pairs, and score every vertex v as Σ_seeds 1/dist(s, v)
    over reached seeds (harmonic form — robust to unreachable pairs,
    unlike classic closeness). n_seeds = |V| gives the exact values.

    Scale: state is (seed × reached vertex) pairs — n_seeds bounds the
    blow-up factor over plain BFS; each hop is one equi-join + one
    anti-join. Returns (vid, harmonic, reached).
    """
    seeds = (
        graph.vertices.select("vid")
        .orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
        .limit(n_seeds)
        .select(F.col("vid").alias("_seed"))
    )
    visited = seeds.select("_seed", F.col("_seed").alias("vid")).withColumn(
        "dist", F.lit(0)
    ).localCheckpoint(eager=True)
    return (
        _bfs(_links(graph.edges, direction), visited, ["_seed"], max_hops)
        .filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(
            F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"),
            F.count(F.lit(1)).alias("reached"),
        )
    )


def label_propagation(graph: PropertyGraph, max_iter: int = 10) -> DataFrame:
    """(vid, community) — semi-synchronous label propagation (LPA,
    Raghavan et al. 2007) over the undirected edge set.

    Each round every vertex adopts the most frequent label among its
    neighbors PLUS its own current label (one self-vote — without it,
    synchronous LPA oscillates on bipartite structures like a 2-path);
    ties break to the SMALLEST label. Fully deterministic: no RNG, no
    vertex-order dependence.

    Scale shape: one shuffle per round (edge join + (vid,label) count +
    per-vid arg-max), identical to the CC superstep. Isolated vertices
    keep their own vid as community.
    """
    adj = _links(graph.edges)
    w = Window.partitionBy("vid").orderBy(F.desc("_n"), F.asc("community"))

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            labels.alias("l")
            .join(adj.alias("a"), F.col("l.vid") == F.col("a._s"), "inner")
            .select(F.col("a._d").alias("vid"), F.col("l.community").alias("community"))
            .unionByName(labels.select("vid", "community"))  # self-vote
            .groupBy("vid", "community")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        winners = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("vid", F.col("community").alias("_new"))
        )
        return labels.join(winners, "vid", "left").select(
            "vid", F.coalesce(F.col("_new"), F.col("community")).alias("community")
        )

    labels = graph.vertices.select("vid").withColumn("community", F.col("vid"))
    return _iterate(labels, step, max_iter)


def common_neighbors(
    graph: PropertyGraph,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """(a, b, n_common, jaccard) for vertex pairs sharing ≥ `min_common`
    undirected neighbors — the classic link-prediction scores.

    Inverted-index shape (same as the n-gram Jaccard dedup): pairs are
    generated per SHARED NEIGHBOR (self-join of the adjacency on the
    neighbor column, a<b), never all-pairs. Pair mass is Σ deg² over
    neighbors; `max_degree` drops hub vertices from the *middle* role
    (their pair fan-out, not their own candidacy) — the hot-shingle cap
    in graph form.
    """
    adj = _adjacency(graph.edges).distinct().select(
        F.col("src").alias("v"), F.col("dst").alias("n")
    )
    # the adjacency feeds SIX roles below (deg, hub filter, both pair
    # sides, both degree joins); without materialization Catalyst
    # re-derives it from the edge scan for each — 16 scans of E in the
    # physical plan. One eager localCheckpoint = one edge scan, and the
    # pair join reads the same cached blocks twice.
    adj = adj.localCheckpoint()
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    mid = adj
    if max_degree is not None:
        hubs = deg.filter(F.col("deg") > max_degree).select(F.col("v").alias("n"))
        mid = adj.join(hubs, "n", "left_anti")
    pairs = (
        mid.alias("x")
        .join(mid.alias("y"), (F.col("x.n") == F.col("y.n")) & (F.col("x.v") < F.col("y.v")))
        .groupBy(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("_db"))
    return (
        pairs.join(da, "a").join(db, "b")
        .select(
            "a", "b", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_da") + F.col("_db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
