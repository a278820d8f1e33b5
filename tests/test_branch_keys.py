"""Labelled filters (and/or/not, where(t)) on each key `branch_key`
picks — inline Column, edge key column, element or tid — return the
literal per-traverser plan's rows (``SetConfig('step_reorder','false')``
keys every branch set on a tid and factors nothing).

The graph has a dangling edge (dst 99 has no vertex row), null vertex
and edge properties, parallel edges and a self loop, so duplicate
traversers reach one vertex after a hop.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from grasper_spark import G, P, PropertyGraph
from grasper_spark.plans.parser import parse_query
from grasper_spark.plans.prepared import PreparedQuery
from grasper_spark.plans.steps import Step, branch_key

VERTS = [
    (1, "person", 29, "alice"), (2, "person", 27, "bob"),
    (3, "person", None, "carol"), (4, "item", 32, None),
    (5, "item", None, None), (6, "person", 27, "dave"),
]
EDGES = [
    (1, 2, "knows", 1), (1, 4, "owns", None), (2, 4, "owns", 3),
    (2, 4, "owns", 3), (3, 99, "knows", 2), (6, 6, "knows", None),
    (6, 1, "knows", 5), (4, 5, "part", 1), (3, 5, "owns", None),
]


@pytest.fixture(scope="module")
def gk(spark):
    v = spark.createDataFrame(VERTS, "vid long, label string, age long, name string")
    e = spark.createDataFrame(EDGES, "src long, dst long, label string, w long")
    return G(PropertyGraph(v, e, name="branch-keys").cache())


def _both_plans(g, q):
    fast = sorted(tuple(r) for r in g.query(q).collect())
    g.query("SetConfig('step_reorder', 'false')")
    try:
        literal = sorted(tuple(r) for r in g.query(q).collect())
    finally:
        g.query("SetConfig('step_reorder', 'true')")
    return fast, literal


V_BRANCHES = [
    'has("age", gt(28))', 'hasNot("age")', 'hasLabel("person")', 'hasId(1, 6)',
    'has("name")', 'has("age", 27).hasLabel("person")',
    'out("knows")', 'in("owns")', 'both()', 'outE("knows")', 'inE()',
    'out().has("age", gt(28))', 'out("owns").hasNot("age")', 'out().out()',
    'values("name")', 'outE().has("w", gt(1))', 'not(has("age", 27))',
    'or(out("knows"), hasNot("name"))', 'out().dedup()',
    'select("a")', 'coin(0.5)', 'out().count().is(gt(1))',
]
E_BRANCHES = [
    'has("w", gt(1))', 'hasNot("w")', 'hasLabel("knows")', 'inV()',
    'outV().has("age", 29)', 'inV().out()', 'inV().hasNot("age")',
    'select("a")', 'coin(0.5)',
]
V_HEADS = ['g.V().as("a")', 'g.V().as("a").out()', 'g.V().hasLabel("person").as("a").both()']
E_HEADS = ['g.E().as("a")', 'g.V().as("a").outE()', 'g.V().as("a").out().inE()']


@st.composite
def branch_filter(draw):
    edge = draw(st.booleans())
    head = draw(st.sampled_from(E_HEADS if edge else V_HEADS))
    pool = E_BRANCHES if edge else V_BRANCHES
    mode = draw(st.sampled_from(["and", "or", "not", "where"]))
    n = 1 if mode in ("not", "where") else draw(st.integers(1, 3))
    branches = [draw(st.sampled_from(pool)) for _ in range(n)]
    if not edge and draw(st.booleans()):  # branch in branch
        branches[0] = f'where({branches[0]})'
    tail = draw(st.sampled_from(["count()", "dedup().count()", "id()"]))
    return f'{head}.{mode}({", ".join(branches)}).{tail}'


@given(q=branch_filter())
@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_every_key_matches_the_literal_plan(gk, q):
    fast, literal = _both_plans(gk, q)
    assert fast == literal, q


@pytest.mark.parametrize("q,key,keeps99", [
    # a props-less stream after a hop reaches 99, which has no vertex
    # row: not(has(...)) keeps it (its branch is empty), and(...) drops it
    ('g.V().out().not(has("age", gt(28))).id()', "inline", True),
    ('g.V().out().and(hasNot("age")).id()', "inline", False),
    ('g.V().out().or(hasId(99), has("age", 27)).id()', "inline", True),
    ('g.V().out().not(out("owns")).id()', "hop", True),
    ('g.V().out().where(in().hasNot("name")).id()', "element", False),
    ('g.V().as("a").out().where(in().where(neq("a"))).id()', "tid", False),
])
def test_dangling_rows_and_keys(gk, q, key, keeps99):
    st_ = parse_query(q)[-2]
    assert branch_key(st_.args) == key
    fast, literal = _both_plans(gk, q)
    assert fast == literal
    assert ((99,) in fast) == keeps99


def test_or_count_plans_without_a_join(gk):
    df = gk.query('g.V().hasLabel("person").or(has("age", lt(28)), has("name", "alice")).count()')
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert df.collect()[0][0] == 3


@pytest.mark.parametrize("shape", ["where_coin", "and_coin"])
def test_coin_branches_under_grouped_prepared_execution(gk, shape):
    branches = [(Step("both", ()), Step("coin", (0.5,)))]
    if shape == "and_coin":
        branches.append((Step("coin", (0.5,)),))
    steps = [Step("V", ()), Step("has", ("name", P.eq("__P__"))), Step("and", tuple(branches))]
    p = PreparedQuery(gk, steps=list(steps), param_idx=1)
    try:
        for name in ["alice", "bob", "carol", "dave", "zzz"]:
            concrete = list(steps)
            concrete[1] = Step("has", ("name", P.eq(name)))
            want = sorted(tuple(r) for r in gk.traversal(concrete).df().collect())
            assert sorted(p.rows(name)) == want, name
    finally:
        p.close()
