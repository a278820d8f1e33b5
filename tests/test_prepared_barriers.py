"""Prepared barrier templates serve EXACT empty-group semantics.

The reference's COUNT barrier emits 0 on an empty stream
(/root/reference/expert/barrier_expert.hpp:442-490); per-query Spark
execution mirrors that (df.agg on empty input yields one row). Grouped
materialization drops empty groups, so the prepared layer synthesizes
the template's empty-input result (PreparedQuery._empty_rows) for
parameter values outside the observed domain — including class-
mismatched literals, which the predicate kernel matches to nothing.
"""

import pytest

from grasper_spark import G
from grasper_spark.plans.prepared import PreparedQuery, prepare


@pytest.fixture()
def gq(modern):
    # fresh handle with caching (and thus auto-prepare) OFF: per-query
    # truth must not itself be served by the prepared layer
    return G(modern, cache_plans=False)


def _per_query(g, template, value):
    # templates carry the marker pre-quoted ("$RAND") for string keys
    if isinstance(value, str):
        q = template.replace("$RAND", value)
    else:
        q = template.replace('"$RAND"', str(value)).replace("$RAND", str(value))
    return [tuple(r) for r in g.query(q).collect()]


COUNT_T = 'g.V().has("name","$RAND").out("knows").count()'


def test_count_template_unseen_value_is_zero(gq):
    p = prepare(gq, COUNT_T)
    assert p._empty_rows == [(0,)]
    # seen values: marko has 2 knows edges
    assert p.rows("marko") == [(2,)]
    # vadas exists but has NO knows edges: the group dropped in the
    # materialization, yet per-query count is 0 — the synthesized row
    assert p.rows("vadas") == _per_query(gq, COUNT_T, "vadas") == [(0,)]
    # unseen value
    assert p.rows("nobody") == _per_query(gq, COUNT_T, "nobody") == [(0,)]
    # class-mismatched literal (string key, int value) matches nothing
    assert p.rows(42) == [(0,)]
    p.close()


def test_count_template_df_parity(gq):
    p = prepare(gq, COUNT_T)
    for v in ("marko", "vadas", "nobody"):
        got = [tuple(r) for r in p.df(v).collect()]
        assert got == _per_query(gq, COUNT_T, v), v
        assert p.df(v).columns == ["val"]
    p.close()


@pytest.mark.parametrize(
    "template",
    [
        'g.V().has("lang","$RAND").in("created").values("age").sum()',
        'g.V().has("lang","$RAND").in("created").values("age").max()',
        'g.V().has("lang","$RAND").in("created").values("age").mean()',
        'g.V().has("name","$RAND").out("created").dedup().count()',
        'g.V().has("lang","$RAND").in("created").groupCount("name")',
        'g.V().has("lang","$RAND").in("created").values("name").fold()',
    ],
)
def test_barrier_templates_match_per_query_everywhere(gq, template):
    # none of these templates order their output — compare as multisets
    # (groupBy output order is partitioning-dependent on both paths)
    p = prepare(gq, template)
    for v in list(p.param_values()) + ["nosuchvalue"]:
        assert sorted(p.rows(v), key=repr) == sorted(
            _per_query(gq, template, v), key=repr
        ), (template, v)
    p.close()


def test_barrier_template_snapshot_roundtrip(gq, tmp_path):
    cache = str(tmp_path / "pq")
    first = prepare(gq, COUNT_T, cache_dir=cache)
    second = prepare(gq, COUNT_T, cache_dir=cache)  # loads the snapshot
    assert second._empty_rows == [(0,)]
    for v in ("marko", "vadas", "nobody"):
        assert second.rows(v) == first.rows(v), v
    first.close()
    second.close()


UNION_T = 'g.V().has("name","$RAND").union(out().count(), in().count())'


def test_union_nested_barrier_serves_per_query_fallback(gq):
    """A union+count template (the reference's emu-template composition,
    driver/worker.hpp:166-205) is outside the grouped-materialization
    model — explicit prepare() now serves it per-query instead of
    raising. Differential: seen AND unseen values match direct
    execution (both branches' 0-row aggregates included)."""
    from grasper_spark.plans.prepared import PerQueryPrepared

    p = prepare(gq, UNION_T)
    assert isinstance(p, PerQueryPrepared) and p.mode == "fallback"
    assert p.key == "name" and p.columns == ["val"]
    for v in ("marko", "vadas", "lop", "nobody"):  # seen + unseen
        assert p.rows(v) == _per_query(gq, UNION_T, v), v
        assert [tuple(r) for r in p.df(v).collect()] == p.rows(v), v
    # LRU: a repeated value serves the cached driver-local rows
    assert p.rows("marko") is p.rows("marko")
    p.close()


def test_union_nested_barrier_raise_opt_in(gq):
    from grasper_spark.plans.prepared import FallbackEligible, PrepareError

    with pytest.raises(PrepareError, match="union"):
        prepare(gq, UNION_T, fallback=False)
    # true template errors still raise even with fallback on
    with pytest.raises(PrepareError, match="marker"):
        prepare(gq, 'g.V().out().count()')
    assert issubclass(FallbackEligible, PrepareError)


#: the union() sits under choose(), not at the top level
DEEP_UNION_T = (
    'g.V().has("name","$RAND").choose(out("knows"), '
    'union(out("knows").count()), union(in("knows").count()))'
)


def test_union_nested_barrier_under_another_branch_falls_back(gq):
    """A barrier inside a union() at any depth is outside the grouped
    model: grouped execution would answer marko with [(2,)], dropping
    the empty branch's (0,) that per-query execution returns."""
    from grasper_spark.plans.prepared import PerQueryPrepared, PrepareError

    p = prepare(gq, DEEP_UNION_T)
    assert isinstance(p, PerQueryPrepared)
    for v in ("marko", "vadas", "josh"):
        assert p.rows(v) == _per_query(gq, DEEP_UNION_T, v), v
    p.close()
    with pytest.raises(PrepareError, match="union"):
        prepare(gq, DEEP_UNION_T, fallback=False)


def test_side_effect_template_serves_per_query_fallback(gq):
    """Global side-effect steps (aggregate/where(without)) execute fine
    per-query — explicit prepare() serves them in fallback mode too."""
    from grasper_spark.plans.prepared import PerQueryPrepared

    t = ('g.V().has("label","$RAND").aggregate("x").out("created")'
         '.where(without("x")).count()')
    p = prepare(gq, t)
    assert isinstance(p, PerQueryPrepared)
    for v in ("person", "software", "ghost"):
        assert p.rows(v) == _per_query(gq, t, v), v
    p.close()


def test_auto_prepare_serves_topline_count(modern):
    g = G(modern)
    t = 'g.V().has("name","{}").out("knows").count()'
    want = {}
    for name in ("marko", "josh", "peter"):  # 3 sightings → prepares
        want[name] = [tuple(r) for r in g.query(t.format(name)).collect()]
    live = [v for v in g._auto_prepared.values() if v not in (None, g._BUILDING)]
    assert len(live) == 1 and isinstance(live[0], PreparedQuery)
    # served answers match per-query, including the empty-group cases
    # (marko is modern's only "knows" source — josh/peter count 0)
    assert want["marko"] == [(2,)]
    assert want["josh"] == [(0,)] and want["peter"] == [(0,)]
    assert [tuple(r) for r in g.query(t.format("ghost")).collect()] == [(0,)]
    assert [tuple(r) for r in g.query(t.format("marko")).collect()] == [(2,)]
    live[0].close()


def test_auto_prepare_rejects_nested_barrier(modern):
    g = G(modern)
    ps = g._point_shape(
        __import__("grasper_spark.plans.parser", fromlist=["x"]).parse_query(
            'g.V().has("name","marko").union(out().count())'
        )
    )
    assert ps is None
    # but a top-level barrier IS a recognized point shape now
    ps2 = g._point_shape(
        __import__("grasper_spark.plans.parser", fromlist=["x"]).parse_query(
            'g.V().has("name","marko").out("knows").count()'
        )
    )
    assert ps2 is not None
