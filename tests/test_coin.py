"""coin(p) is a per-traverser Bernoulli draw that is a function of the
row's content: the same traversal keeps the same rows under any
partitioning, prepared (grouped) and per-query execution agree on it,
and every traverser flips once per coin step: identical copies, chained
coins, sibling branches, loop rounds and the traversers of distinct
outer traversers inside a branch all draw independently."""

import pytest

from grasper_spark import G, PropertyGraph
from grasper_spark.plans.compiler import number_coins
from grasper_spark.plans.parser import parse_query
from grasper_spark.plans.prepared import PreparedQuery, prepare
from tests.test_prepared_driver_serve import _jobs, _live, _sorted

N = 120


def _graph(spark, nv=1, ne=1):
    """N people, each knowing 3 others, all of them owning one hub item
    (so out("owns").in("owns") yields N copies of every person)."""
    verts = [(i, "person", f"p{i}", i % 7) for i in range(N)]
    verts.append((N, "item", "hub", None))
    edges = [(i, (i * 7 + k) % N, "knows") for i in range(N) for k in (1, 2, 3)]
    edges += [(i, N, "owns") for i in range(N)]
    v = spark.createDataFrame(verts, "vid long, label string, name string, grp long")
    e = spark.createDataFrame(edges, "src long, dst long, label string")
    return PropertyGraph(v.repartition(nv), e.repartition(ne))


QUERIES = [
    'g.V().coin(0.5).values("name")',
    'g.V().out("knows").coin(0.3).values("name")',
    'g.V().out("owns").in("owns").coin(0.5).values("name")',
    'g.E().coin(0.4)',
    'g.V().as("a").out("knows").coin(0.5).select("a")',
    'g.V().where(out("knows").coin(0.2)).values("name")',
    'g.V().values("grp").coin(0.6)',
]


def _answers(spark, queries, nv=1, ne=1):
    gi = G(_graph(spark, nv, ne), cache_plans=False)
    return {q: _sorted(gi.query(q)) for q in queries}


def test_coin_is_partition_independent(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        runs = []
        for n in (1, 2, 7):
            spark.conf.set(key, str(n))
            runs.append(_answers(spark, QUERIES))
        runs.append(_answers(spark, QUERIES, nv=5, ne=3))
    finally:
        spark.conf.set(key, old)
    for q in QUERIES:
        assert all(r[q] == runs[0][q] for r in runs[1:]), q
        assert runs[0][q], q  # the draw keeps something


def test_duplicate_copies_flip_independently(spark):
    gi = G(_graph(spark), cache_plans=False)
    q = 'g.V().out("owns").in("owns").{}values("name")'
    full = _sorted(gi.query(q.format("")))
    kept = _sorted(gi.query(q.format("coin(0.5).")))
    assert len(full) == N * N
    per = {}
    for (name,) in kept:
        per[name] = per.get(name, 0) + 1
    # each person has N identical copies: a content-only hash would keep
    # all or none of them; per-copy draws keep a proper subset
    assert len(per) == N and all(0 < c < N for c in per.values())
    n, p = N * N, 0.5
    assert abs(len(kept) - p * n) <= 6 * (p * (1 - p) * n) ** 0.5


def test_coin_extremes(spark):
    gi = G(_graph(spark), cache_plans=False)
    q = 'g.V().out("owns").in("owns").{}values("name")'
    full = _sorted(gi.query(q.format("")))
    assert _sorted(gi.query(q.format("coin(1.0)."))) == full
    assert _sorted(gi.query(q.format("coin(1)."))) == full
    assert gi.query(q.format("coin(0.0).")).collect() == []
    assert gi.query(q.format("coin(0).")).collect() == []


def test_seed_changes_the_kept_set(spark):
    gi = G(_graph(spark), cache_plans=False)
    q = 'g.V().coin(0.5).values("name")'
    a = _sorted(gi.query(q))
    assert _sorted(gi.query(q)) == a  # same seed, same rows
    gi.query("SetConfig('seed', '7')")
    b = _sorted(gi.query(q))
    assert b != a and b


def _wide(spark, n=20000):
    """n isolated-ish people: a stream big enough for tight 6-sigma
    bounds on the kept count."""
    v = spark.range(n).selectExpr(
        "id as vid", "'person' as label", "concat('p', id) as name"
    )
    e = spark.createDataFrame([(0, 1, "knows")], "src long, dst long, label string")
    return G(PropertyGraph(v, e), cache_plans=False), n


def _within_6sigma(k, n, p):
    return abs(k - p * n) <= 6 * (p * (1 - p) * n) ** 0.5


def test_number_coins_orders_sites_and_is_idempotent():
    steps = number_coins(parse_query(
        'g.V().coin(0.5).union(coin(0.5), out().coin(0.2)).where(coin(0.1))'
    ))
    sites = [st.args for st in steps if st.name == "coin"]
    sites += [b[-1].args for b in steps[2].args]
    sites += [steps[3].args[0][0].args]
    assert sites == [(0.5, 0), (0.5, 1), (0.2, 2), (0.1, 3)]
    assert number_coins(steps) == steps


def test_chained_coins_draw_independently(spark):
    gi, n = _wide(spark)
    (k,) = gi.query("g.V().coin(0.5).coin(0.5).count()").collect()[0]
    # one shared draw per row would keep ~n/2
    assert _within_6sigma(k, n, 0.25), k


def test_sibling_branch_coins_draw_independently(spark):
    gi, n = _wide(spark)
    rows = gi.query('g.V().union(coin(0.5), coin(0.5)).values("name")').collect()
    distinct = len({r[0] for r in rows})
    # identical branch draws would make every kept name appear twice
    assert _within_6sigma(distinct, n, 0.75), distinct


def test_repeat_rounds_draw_independently(spark):
    gi, n = _wide(spark)
    (k,) = gi.query("g.V().repeat(coin(0.5)).times(2).count()").collect()[0]
    assert _within_6sigma(k, n, 0.25), k


def test_branch_draws_are_per_outer_traverser(spark):
    """Every person reaches the one hub inside where(): each person's
    (person, hub) traverser must flip on its own, not share the hub's
    draw (which keeps all persons or none)."""
    gi = G(_graph(spark), cache_plans=False)
    kept = gi.query(
        'g.V().hasLabel("person").where(out("owns").coin(0.5)).values("name")'
    ).collect()
    assert _within_6sigma(len(kept), N, 0.5), len(kept)
    # and an outer traverser's own copies still flip apart: among the
    # N copies of each person, the kept share is about one half
    rows = gi.query(
        'g.V().out("owns").in("owns").where(out("owns").coin(0.5))'
        '.values("name")'
    ).collect()
    assert _within_6sigma(len(rows), N * N, 0.5), len(rows)


PARITY = [
    'g.V().has("grp",$RAND).coin(0.5).values("name")',
    'g.V().has("grp",$RAND).out("knows").coin(0.5).values("name")',
    'g.V().has("grp",$RAND).where(out("knows").coin(0.3)).values("name")',
    'g.V().has("grp",$RAND).and(out("knows").coin(0.4), out("owns")).values("name")',
    'g.V().has("grp",$RAND).both().both().coin(0.5).values("name")',
    'g.V().has("grp",$RAND).out("owns").in("owns").coin(0.1).count()',
    'g.V().has("grp",$RAND).valueMap().coin(0.5)',
    'g.V().has("grp",$RAND).coin(0.5).coin(0.5).values("name")',
    'g.V().has("grp",$RAND).union(coin(0.5), coin(0.5)).values("name")',
    'g.V().has("grp",$RAND).where(out("owns").coin(0.5)).values("name")',
    'g.V().has("grp",$RAND).out("owns").in("owns").where(out("knows").coin(0.5)).count()',
]


@pytest.mark.parametrize("template", PARITY)
def test_prepared_coin_matches_per_query(spark, template):
    gi = G(_graph(spark), cache_plans=False)
    p = prepare(gi, template, fallback=False)
    try:
        assert isinstance(p, PreparedQuery) and p.mode == "local"
        for v in list(range(7)) + [99]:
            want = _sorted(gi.query(template.replace("$RAND", str(v))))
            assert sorted(p.rows(v), key=repr) == want, v
    finally:
        p.close()


def test_auto_prepared_coin_point_read_starts_no_job(spark):
    gi = G(_graph(spark))
    off = G(_graph(spark), cache_plans=False)
    q = 'g.V().has("name","{}").out("knows").coin(0.5).values("name")'
    for n in ("p1", "p2", "p3"):
        gi.query(q.format(n)).collect()
    (rec,) = _live(gi)
    assert rec.mode == "local"
    for n in ("p4", "p5", "p4", "nobody"):
        rows, jobs = _jobs(spark, lambda: gi.query(q.format(n)).collect())
        assert jobs == 0, n
        assert sorted(map(tuple, rows)) == _sorted(off.query(q.format(n))), n
    rec.close()
