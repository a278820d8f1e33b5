"""Differential property test for the prepared serving layer: for random
supported point-query shapes, PreparedQuery.rows(v) must equal the
per-query compile for EVERY parameter value in the domain (plus a value
absent from it). This is the parity contract auto-prepare relies on
(plans/api.G._try_auto_prepared serves user queries from it)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from grasper_spark import G, P, PropertyGraph
from grasper_spark.plans.compiler import Step
from grasper_spark.plans.prepared import PreparedQuery

VERTS = [
    (1, "person", 29, "alice"),
    (2, "person", 27, "bob"),
    (3, "person", None, "carol"),
    (4, "person", 32, None),
    (5, "item", 29, "book"),
    (6, "item", 3, "pen"),
    (7, "item", None, None),
    (8, "person", 27, "dave"),
    (9, "item", 100, "rock"),
    (10, "person", 27, "erin"),
]
EDGES = [
    (1, 2, "knows", 1),
    (1, 5, "owns", 2),
    (2, 5, "owns", 1),
    (2, 6, "owns", 3),
    (4, 1, "knows", 1),
    (8, 9, "owns", 5),
    (3, 6, "owns", 2),
    (8, 1, "knows", 2),
    (9, 9, "self", 1),
]

import pytest


@pytest.fixture(scope="module")
def gd(spark):
    v = spark.createDataFrame(VERTS, "vid long, label string, age long, name string")
    e = spark.createDataFrame(EDGES, "src long, dst long, label string, w long")
    pg = PropertyGraph(v, e)
    pg.vertices.cache().count()
    pg.edges.cache().count()
    return G(pg)


@st.composite
def point_shape(draw):
    """(steps, param_idxs): a supported 1- or 2-literal point query."""
    steps = []
    steps.append(Step("V", ()))
    if draw(st.booleans()):
        steps.append(Step("hasLabel", (draw(st.sampled_from(["person", "item"])),)))
    key = draw(st.sampled_from(["name", "age", "__id__"]))
    idx = len(steps)
    if key == "__id__":
        steps.append(Step("hasId", (P.eq("__PLACEHOLDER__"),)))
    else:
        steps.append(Step("has", (key, P.eq("__PLACEHOLDER__"))))
    idxs = [idx]
    keys = [key]
    second = draw(st.booleans())
    kind = "V"
    for _ in range(draw(st.integers(min_value=0, max_value=2))):
        if kind == "E":
            steps.append(Step(draw(st.sampled_from(["outV", "inV"])), ()))
            kind = "V"
        else:
            hop = draw(st.sampled_from(["out", "in", "both", "outE", "inE"]))
            lbl = draw(st.sampled_from([(), ("knows",), ("owns",)]))
            steps.append(Step(hop, lbl))
            kind = "E" if hop in ("outE", "inE") else "V"
            if second and kind == "V":
                k2 = draw(st.sampled_from(["name", "age"]))
                idxs.append(len(steps))
                keys.append(k2)
                steps.append(Step("has", (k2, P.eq("__PLACEHOLDER__"))))
                second = False
    # coin(p): a content-hashed per-traverser draw, so grouped and
    # per-query execution keep the same rows — top level, or nested in
    # a where()/and() branch (the parser reads where(t) as and(t))
    coin = draw(st.sampled_from(["none", "coin", "where_coin", "and_coin"]))
    p = draw(st.sampled_from([0.3, 0.5, 0.8]))
    if coin == "coin":
        steps.append(Step("coin", (p,)))
    elif coin != "none" and kind == "V":
        branches = [(Step("both", ()), Step("coin", (p,)))]
        if coin == "and_coin":
            branches.append((Step("coin", (p,)),))
        steps.append(Step("and", tuple(branches)))
    tail = draw(st.sampled_from(
        ["none", "values", "label", "dedup", "dedup_values",
         # barrier tails: empty parameter groups must serve the
         # synthesized per-query empty-input aggregate (round 4)
         "count", "dedup_count", "sum", "group_count"]
    ))
    if kind == "E" and tail in ("values", "dedup_values", "sum"):
        # edge streams carry only the 'w' property in this graph;
        # double-sum order differs between grouped/per-query plans, so
        # the barrier sum stays on the int-typed vertex 'age'
        steps.append(Step("values", ("w",)))
        return steps, idxs
    if tail == "values":
        steps.append(Step("values", (draw(st.sampled_from(["name", "age"])),)))
    elif tail == "label":
        steps.append(Step("label", ()))
    elif tail == "dedup":
        steps.append(Step("dedup", ()))
    elif tail == "dedup_values":
        steps.append(Step("dedup", ()))
        steps.append(Step("values", (draw(st.sampled_from(["name", "age"])),)))
    elif tail == "count":
        steps.append(Step("count", ()))
    elif tail == "dedup_count":
        steps.append(Step("dedup", ()))
        steps.append(Step("count", ()))
    elif tail == "sum":
        steps.append(Step("values", ("age",)))
        steps.append(Step("sum", ()))
    elif tail == "group_count":
        steps.append(Step("groupCount", ()))
    return steps, idxs


def _per_query(gd, steps, idxs, keys, values):
    concrete = list(steps)
    for i, k, v in zip(idxs, keys, values):
        if k == "__id__":
            concrete[i] = Step("hasId", (P.eq(v),))
        else:
            concrete[i] = Step("has", (k, P.eq(v)))
    return sorted(
        tuple(r) for r in gd.traversal(concrete).df().collect()
    )


@given(shape=point_shape())
@settings(max_examples=40, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # full-domain sweep; per-template prepared parity stays in test_prepared
def test_prepared_matches_per_query_on_every_domain_value(gd, shape):
    steps, idxs = shape
    keys = [
        "__id__" if steps[i].name == "hasId" else steps[i].args[0]
        for i in idxs
    ]
    p = PreparedQuery(
        gd, steps=list(steps), param_idx=idxs if len(idxs) > 1 else idxs[0]
    )

    def dom(key):
        if key == "__id__":
            return sorted(v[0] for v in VERTS)
        return sorted(
            {v[3] for v in VERTS if v[3] is not None}
            if key == "name"
            else {v[2] for v in VERTS if v[2] is not None}
        )

    if len(idxs) == 1:
        combos = [(v,) for v in dom(keys[0])]
    else:
        # full cross product is too big per example: the materialized
        # domain plus a sample of absent combos
        combos = list(p.param_values())[:20] + [
            (dom(keys[0])[0], dom(keys[1])[-1]),
            (dom(keys[0])[-1], dom(keys[1])[0]),
        ]
    for vals in combos:
        probe = vals[0] if len(idxs) == 1 else tuple(vals)
        got = sorted(p.rows(probe))
        want = _per_query(gd, steps, idxs, keys, vals)
        assert got == want, (steps, keys, vals, got, want)
    missing = tuple(
        "zzz" if k == "name" else 10**9 for k in keys
    )  # 10**9 covers both age and __id__ (absent bigint)
    probe = missing[0] if len(idxs) == 1 else missing
    # out-of-domain values must match per-query exactly: [] for
    # per-traverser templates, the empty-input aggregate (count → 0)
    # for barrier templates
    assert sorted(p.rows(probe)) == _per_query(gd, steps, idxs, keys, missing)
    p.close()
