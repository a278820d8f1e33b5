"""Regression tests for the round-6 VERDICT.md task list.

1. Real PNG decode — covered in depth by tests/test_png.py (round
   trips across all five filters x RGB/RGBA, hand-crafted IDAT
   independent of the encoder, CRC/truncation/rejection, pipeline
   error policy); this file doesn't duplicate it.
2. Stall-proof headline bench — bench.py records all 5 raw passes per
   headline query (headline_passes) and a stepwise load breakdown
   (load_phases) in BENCH_FULL.json; asserted structurally here.
3. Persisted forks are COLUMN-PRUNED: aggregate()/multi-branch-union()
   persist vid + history + sort only, props re-attach lazily — and
   downstream property access still works.
4. overlap_pair_stats is the shared base of jaccard + containment:
   one pair pass serves both measures with hand-checked numbers.
5. PerQueryPrepared plan LRU: repeated values recompile zero times;
   the LRU clears on the graph's invalidation epoch.
6. emu per-query tier serves through PerQueryPrepared.
7. IVF at n_probe = n_clusters equals the integer-exact brute force
   (the ledger arm's contract), checked here as a unit.
"""

import pytest
from pyspark.sql import functions as F

from grasper_spark import G, PropertyGraph


@pytest.fixture()
def small_graph(spark):
    v = spark.range(20).select(
        F.col("id").alias("vid"),
        F.when(F.col("id") < 10, "person").otherwise("org").alias("label"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        (F.col("id") % 5).cast("int").alias("grp"),
    )
    e = spark.createDataFrame(
        [(i, 10 + i % 10, "works_at", 1.0) for i in range(10)],
        "src long, dst long, label string, weight double",
    )
    return PropertyGraph(v, e, name="verdict-r7").cache()


# ---------------------------------------------------------------------------
# 2. bench records per-pass headline times + load breakdown
# ---------------------------------------------------------------------------


def test_bench_source_records_headline_passes_and_load_phases():
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as fh:
        src = fh.read()
    assert '"headline_passes": headline_passes' in src
    assert '"load_phases": load_phases' in src
    # sf1 ratios must divide by the SAME-WINDOW base (interleaved
    # passes), with the headline base kept for reference
    assert '"base_passes": base_per' in src
    assert '"base_headline_s": tb' in src
    # the compact driver line must NOT carry the nested sections
    compact = src.split("compact = {", 1)[1].split("}", 1)[0]
    assert "headline_passes" not in compact and "load_phases" not in compact


# ---------------------------------------------------------------------------
# 3. pruned persisted forks
# ---------------------------------------------------------------------------


def test_aggregate_fork_is_column_pruned(small_graph):
    from grasper_spark.plans import compiler as C
    from grasper_spark.plans.parser import parse_query

    comp = C.GremlinCompiler(small_graph)
    steps = parse_query('g.V().hasLabel("person").aggregate("x")')
    s = comp.compile(steps)
    # the persisted fork carries ONLY the vid (no label/prop columns)
    assert s.df.columns == [C.VCOL]
    assert s.props is False


def test_props_reattach_after_pruned_fork(small_graph):
    g = G(small_graph, cache_plans=False)
    got = sorted(
        r[0]
        for r in g.query(
            'g.V().hasLabel("person").aggregate("x").values("name")'
        ).collect()
    )
    assert got == sorted(f"n{i}" for i in range(10))
    # union fork: both branches read props of the pruned fork lazily
    # (branches must share dtype — name and label are both strings)
    got2 = sorted(
        r[0]
        for r in g.query(
            'g.V().has("name","n3").union(values("name"), label())'
        ).collect()
    )
    assert got2 == ["n3", "person"]


def test_where_without_still_correct_after_prune(small_graph):
    g = G(small_graph, cache_plans=False)
    # persons aggregate into x; orgs are not in x -> all 10 orgs survive
    n = g.query(
        'g.V().hasLabel("person").aggregate("x").out("works_at")'
        '.where(without("x")).dedup().count()'
    ).collect()[0][0]
    assert n == 10


# ---------------------------------------------------------------------------
# 4. shared overlap stats
# ---------------------------------------------------------------------------


def test_overlap_pair_stats_serves_both_measures(spark):
    from grasper_spark.functions.dedup import (
        containment_pairs, ngram_jaccard_pairs, overlap_pair_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # shingles: abc bcd cde def
            (2, "a b c d e z"),          # abc bcd cde dez -> common 3
            (3, "a b c d"),              # abc bcd         -> contained in 1
        ],
        ["doc_id", "text"],
    )
    stats = {
        (r.id_a, r.id_b): (r.common, r.sz_a, r.sz_b)
        for r in overlap_pair_stats(docs).collect()
    }
    assert stats[(1, 2)] == (3, 4, 4)
    assert stats[(1, 3)] == (2, 4, 2)
    jac = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert jac[(1, 2)] == round(3 / 5, 6)
    assert jac[(1, 3)] == round(2 / 4, 6)
    cont = {(r.id_a, r.id_b): r.containment for r in
            containment_pairs(docs, threshold=0.9).collect()}
    # doc 3 fully contained in doc 1 (2/2); the reverse is 2/4 < 0.9
    assert cont[(3, 1)] == 1.0 and (1, 3) not in cont


# ---------------------------------------------------------------------------
# 5. PerQueryPrepared plan LRU
# ---------------------------------------------------------------------------


def test_perquery_plan_lru_zero_recompiles_for_repeats(small_graph):
    from grasper_spark.plans.prepared import PerQueryPrepared

    g = G(small_graph, cache_plans=False)
    pq = PerQueryPrepared(
        g, 'g.V().has("name","$RAND").aggregate("s").values("grp")'
    )
    d1 = pq.df("n4")
    d2 = pq.df("n4")
    assert d2 is d1, "repeated value must serve the cached plan object"
    assert pq.df("n5") is not d1
    g._invalidations += 1  # refresh/ingest epoch bump
    assert pq.df("n4") is not d1, "epoch bump must clear the plan LRU"


# ---------------------------------------------------------------------------
# 6. emu per-query tier serves through PerQueryPrepared
# ---------------------------------------------------------------------------


def test_emu_per_query_tier_uses_perquery_prepared(small_graph):
    from grasper_spark.emu import run_emu

    g = G(small_graph, cache_plans=False)
    cfg = '5 1\n1\ng.V().has("name","$RAND").sample(2).values("grp")  name  10\n'
    res = run_emu(g, cfg, max_queries=5)
    assert res.template_modes == {0: "per-query"}
    assert res.total_queries == 5


# ---------------------------------------------------------------------------
# 7. IVF at full probe == integer-exact brute force
# ---------------------------------------------------------------------------


def test_ivf_full_probe_equals_qint_brute_force(spark):
    import numpy as np

    from grasper_spark.functions.similarity import (
        ivf_index, ivf_topk, qint_cosine_topk,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = ivf_index(emb, n_clusters=4, max_iter=2)
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            assigned, cents, emb.filter("vec_id < 3"), k=5, n_probe=4
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id)
        for r in qint_cosine_topk(emb, emb.filter("vec_id < 3"), k=5).collect()
    }
    assert got == want
