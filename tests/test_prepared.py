"""Prepared parameterized point queries (plans/prepared.py): parity with
the per-query path across template shapes, tier selection, and shape
rejection (PrepareError → caller falls back)."""

import pytest

from grasper_spark.plans.prepared import PrepareError, PreparedQuery, prepare


def _per_query(g, template, value):
    if isinstance(value, str):
        q = template.replace("$RAND", value)
    else:
        q = template.replace("$RAND", str(value))
    return sorted(tuple(r) for r in g.query(q).collect())


TEMPLATES = [
    'g.V().has("name","$RAND").values("age")',
    'g.V().hasLabel("person").has("age",$RAND).values("name")',
    'g.V().has("name","$RAND").out("knows").values("name")',
    'g.V().has("lang","$RAND").count()',
    'g.V().has("lang","$RAND").values("name").order().limit(1)',
    'g.V().has("name","$RAND").out("created").in("created").dedup().count()',
    # labelled-branch machinery under the param group column
    'g.V().has("age",$RAND).union(out("knows").values("name"), out("created").values("name"))',
    'g.V().has("age",$RAND).and(out("created")).values("name")',
    'g.V().has("age",$RAND).not(out("knows")).values("name")',
    # history column + where(neq) rides with the param passenger
    'g.V().has("lang","$RAND").as("a").in("created").out("created").where(neq("a")).values("name")',
]


@pytest.mark.parametrize("template", TEMPLATES)
def test_prepared_matches_per_query(g, template):
    p = prepare(g, template)
    assert p.mode == "local"
    vals = p.param_values()
    assert vals, template
    for v in vals:
        got = sorted(p.rows(v))
        want = _per_query(g, template, v)
        assert got == want, (template, v)


def test_prepared_edge_stream_template(g):
    # parameterized has() on an EDGE stream (g.E() start)
    p = prepare(g, 'g.E().has("weight",$RAND).outV().values("name")')
    for v in p.param_values():
        got = sorted(p.rows(v))
        want = _per_query(g, 'g.E().has("weight",$RAND).outV().values("name")', v)
        assert got == want, v
    assert 0.5 in p.param_values()
    assert p.rows(0.5) == [("marko",)]


def test_prepared_two_marker_template(g):
    # explicit two-parameter template via a marker sequence
    p = prepare(
        g,
        'g.V().has("age",$P1).out("created").has("lang","$P2").values("name")',
        marker=("$P1", "$P2"),
    )
    assert len(p._pqcols) == 2 and p.keys == ["age", "lang"]
    assert p.rows((29, "java")) == [("lop",)]
    assert p.rows((32, "java")) == [("lop",), ("ripple",)] or sorted(
        p.rows((32, "java"))
    ) == [("lop",), ("ripple",)]
    assert p.rows((29, "nosuch")) == []
    assert p.rows(("x", "java")) == []   # class gate on the first param
    assert p.rows(29) == []              # arity mismatch never crashes
    # parity for every materialized combination
    for (age, lang) in p.param_values():
        want = sorted(
            tuple(r) for r in g.query(
                f'g.V().has("age",{age}).out("created").has("lang","{lang}").values("name")'
            ).collect()
        )
        assert sorted(p.rows((age, lang))) == want


def test_prepared_by_id_template(g):
    # the reference's KV point-get: parameterized element id
    p = prepare(g, 'g.V().hasId($RAND).out("knows").values("name")')
    assert p.keys == ["__id__"] and p.param_dtype == "bigint"
    assert sorted(p.rows(1)) == [("josh",), ("vadas",)]
    assert p.rows(999) == [] and p.rows("zz") == []


def test_auto_prepare_v_id_point_starts(modern):
    from grasper_spark import G

    gi = G(modern)
    q = 'g.V({}).out("created").values("name")'
    base = {}
    for vid in (1, 4, 6):
        base[vid] = sorted(r.val for r in gi.query(q.format(vid)).collect())
    rec = [v for v in gi._auto_prepared.values() if v is not None]
    assert len(rec) == 1 and rec[0].keys == ["__id__"]
    for vid in (1, 2, 4, 6, 999):
        got = sorted(r.val for r in gi.query(q.format(vid)).collect())
        fresh = sorted(
            r.val for r in gi.traversal(
                __import__("grasper_spark.plans.parser", fromlist=["parse_query"])
                .parse_query(q.format(vid))
            ).df().collect()
        )
        assert got == fresh, vid
    assert base[1] == ["lop"]
    # V(id1, id2) multi-id starts are NOT rewritten (stay per-query)
    assert sorted(
        r.val for r in gi.query('g.V(1,4).out("created").values("name")').collect()
    ) == ["lop", "lop", "ripple"]


def test_prepared_unseen_value_returns_empty(g):
    # serving is defined over the OBSERVED parameter domain (like the
    # reference's index store, which only holds present values)
    p = prepare(g, 'g.V().has("name","$RAND").values("age")')
    assert p.rows("no-such-name") == []


def test_prepared_numeric_param_coercion(g):
    p = prepare(g, 'g.V().has("age",$RAND).values("name")')
    # int and float renderings of the same numeric value both hit
    assert p.rows(29) == p.rows(29.0) == [("marko",)]


def test_prepared_relation_tier(g):
    p = PreparedQuery(
        g, 'g.V().has("name","$RAND").values("age")', max_local_rows=1
    )
    try:
        assert p.mode == "relation"
        assert p.rows("marko") == [(29,)]
        assert p.rows("no-such-name") == []
        assert p.df("marko").collect()[0][0] == 29
    finally:
        p.close()


def test_prepared_relation_tier_row_lru(g):
    # a hot key pays its filter job once, then serves from the LRU
    p = PreparedQuery(
        g, 'g.V().has("name","$RAND").values("age")', max_local_rows=1
    )
    try:
        assert p.mode == "relation" and len(p._row_lru) == 0
        assert p.rows("marko") == [(29,)]
        assert list(p._row_lru) == ["marko"]
        # cached answer (identity: the stored list object is returned)
        assert p.rows("marko") is p._row_lru["marko"]
        assert p.rows("vadas") == [(27,)]
        assert list(p._row_lru) == ["marko", "vadas"]
    finally:
        p.close()


@pytest.mark.parametrize(
    "template",
    [
        'g.V().values("age")',                                  # no marker
        'g.V().has("name","$RAND").has("lang","$RAND").count()',  # twice
        'g.V().has("name",P.within("$RAND","x")).count()',      # not eq()
        # marker nested in a branch sub-traversal must be rejected, not
        # silently compiled as a literal string
        'g.V().union(has("name","$RAND").values("age"), values("age"))',
        'g.V().has("name","$RAND").and(has("lang","$RAND")).count()',
    ],
)
def test_prepared_rejects_out_of_scope_shapes(g, template):
    # TRUE template errors (marker/parse problems) raise regardless of
    # the fallback tier — there is no per-query meaning to serve
    with pytest.raises(PrepareError):
        prepare(g, template)


@pytest.mark.parametrize(
    "template",
    [
        'g.V().has("name","$RAND").aggregate("x").cap("x")',    # side-effect
        'g.V().has("name","$RAND").sample(2).count()',          # global top-n
    ],
)
def test_prepared_semantic_scope_shapes_fall_back(g, template):
    """Shapes the grouped materialization cannot MODEL (but which
    execute fine per-query) come back as the per-query fallback tier;
    fallback=False restores the raise."""
    from grasper_spark.plans.prepared import PerQueryPrepared

    p = prepare(g, template)
    assert isinstance(p, PerQueryPrepared) and p.mode == "fallback"
    with pytest.raises(PrepareError):
        prepare(g, template, fallback=False)
    p.close()


def test_auto_prepare_serves_repeated_point_shapes(modern):
    from grasper_spark import G

    gi = G(modern)
    names = ["marko", "vadas", "josh", "peter", "lop"]
    base = {
        n: sorted(r.val for r in gi.query(
            f'g.V().has("name","{n}").out("created").values("name")'
        ).collect())
        for n in names[:2]
    }
    # 3rd sighting of the shape (different literal) trips auto-prepare
    gi.query('g.V().has("name","josh").out("created").values("name")').collect()
    assert len(gi._auto_prepared) == 1
    rec = next(iter(gi._auto_prepared.values()))
    assert rec is not None and rec.mode == "local"
    # served results match the per-query path exactly
    for n in names:
        got = sorted(r.val for r in gi.query(
            f'g.V().has("name","{n}").out("created").values("name")'
        ).collect())
        fresh = sorted(r.val for r in gi.traversal(
            __import__("grasper_spark.plans.parser", fromlist=["parse_query"])
            .parse_query(f'g.V().has("name","{n}").out("created").values("name")')
        ).df().collect())
        assert got == fresh, n
    assert base["marko"] == ["lop"]


def test_auto_prepare_barrier_shapes_serve_exact_counts(modern):
    # round 4: TOP-LEVEL barriers auto-prepare — the empty-group case is
    # served from the synthesized empty-input aggregate
    # (PreparedQuery._empty_rows), so grouped execution is
    # indistinguishable from per-query, including count-0 answers
    from grasper_spark import G

    gi = G(modern)
    for n in ("marko", "vadas", "josh", "peter"):
        assert gi.query(f'g.V().has("name","{n}").count()').collect()[0][0] == 1
    live = [v for v in gi._auto_prepared.values() if v not in (None, gi._BUILDING)]
    assert len(live) == 1  # the shape DID prepare
    # per-query count semantics survive: absent value still answers 0
    assert gi.query('g.V().has("name","nobody").count()').collect()[0][0] == 0
    live[0].close()


def test_auto_prepare_two_literal_shapes(modern):
    from grasper_spark import G

    gi = G(modern)
    q = 'g.V().has("age",{}).out("created").has("lang","{}").values("name")'
    base = {}
    for age in (29, 32, 35):
        base[age] = sorted(
            r.val for r in gi.query(q.format(age, "java")).collect()
        )
    rec = [v for v in gi._auto_prepared.values() if v is not None]
    assert len(rec) == 1 and len(rec[0]._pqcols) == 2
    # served results equal per-query for every combination, including
    # values absent from the domain and mismatched classes
    for age in (29, 32, 35, 27, 99):
        for lang in ("java", "nosuch"):
            got = sorted(r.val for r in gi.query(q.format(age, lang)).collect())
            fresh = sorted(
                r.val
                for r in gi.traversal(
                    __import__("grasper_spark.plans.parser", fromlist=["parse_query"])
                    .parse_query(q.format(age, lang))
                ).df().collect()
            )
            assert got == fresh, (age, lang)
    assert base[29] == ["lop"]


def test_auto_prepare_lru_eviction(modern):
    from grasper_spark import G

    gi = G(modern)
    gi.AUTO_PREPARE_MAX = 2
    shapes = [
        'g.V().has("name","{}").values("age")',
        'g.V().has("name","{}").values("name")',
        'g.V().has("name","{}").label()',
    ]
    for q in shapes[:2]:
        for n in ("marko", "vadas", "josh"):
            gi.query(q.format(n)).collect()
    assert sum(1 for v in gi._auto_prepared.values() if v) == 2
    first = next(iter(gi._auto_prepared))
    # keep shape 2 hot so shape 1 is the LRU victim
    gi.query(shapes[1].format("peter")).collect()
    for n in ("marko", "vadas", "josh"):
        gi.query(shapes[2].format(n)).collect()
    assert sum(1 for v in gi._auto_prepared.values() if v) == 2
    assert first not in gi._auto_prepared  # evicted, relation closed
    # evicted shape still answers correctly through the normal path
    assert sorted(r.val for r in gi.query(shapes[0].format("marko")).collect()) == [29]


def test_auto_prepare_invalidated_by_config_change(modern):
    from grasper_spark import G

    gi = G(modern)
    q = 'g.V().has("name","{}").values("age")'
    for n in ("marko", "vadas", "josh"):
        gi.query(q.format(n)).collect()
    assert len(gi._auto_prepared) == 1
    (shape,) = gi._auto_prepared
    gi.query("SetConfig('seed', '7')")
    assert gi._auto_prepared == {} and gi._plan_cache == {}
    # the shape was live, so it keeps its sighting count and its first
    # sighting after the invalidation re-prepares it (not its third)
    assert gi._shape_seen == {shape: gi.AUTO_PREPARE_AFTER + 1}
    assert [r.val for r in gi.query(q.format("peter")).collect()] == [35]
    assert gi._auto_prepared[shape] is not None
    gi._auto_prepared[shape].close()


def test_prepared_snapshot_roundtrip(g, tmp_path):
    # MPISnapshot pattern: second construction warm-starts from disk
    # (no recompute) and serves identical results
    import os

    cache = str(tmp_path / "pqcache")
    t = 'g.V().has("name","$RAND").out("created").values("name")'
    p1 = PreparedQuery(g, t, cache_dir=cache)
    snaps = [d for d in os.listdir(cache) if d.startswith("pq_")]
    assert len(snaps) == 1
    want = {v: sorted(p1.rows(v)) for v in p1.param_values()}
    p1.close()
    p2 = PreparedQuery(g, t, cache_dir=cache)
    assert {v: sorted(p2.rows(v)) for v in p2.param_values()} == want
    p2.close()
    # a DIFFERENT template gets its own snapshot (keyed fingerprint)
    p3 = PreparedQuery(g, 'g.V().has("name","$RAND").values("age")', cache_dir=cache)
    assert len([d for d in os.listdir(cache) if d.startswith("pq_")]) == 2
    p3.close()


def test_emu_with_prepare_cache(g, tmp_path):
    from grasper_spark.emu import run_emu

    cfg = "5 4\n1\n" + 'g.V().has("name","$RAND").values("age")  name  20\n'
    cache = str(tmp_path / "emucache")
    r1 = run_emu(g, cfg, max_queries=8, prepare_cache_dir=cache)
    r2 = run_emu(g, cfg, max_queries=8, prepare_cache_dir=cache)
    assert r1.template_modes == r2.template_modes == {0: "prepared"}
    assert r1.total_queries == r2.total_queries == 8


def test_g_prepare_public_api(g):
    p = g.prepare('g.V().has("name","$RAND").values("age")')
    assert p.rows("marko") == [(29,)]


def test_emu_uses_prepared_and_matches_fallback(g):
    from grasper_spark.emu import run_emu

    cfg = """
    5 4
    2
    g.V().has("name","$RAND").properties("name")  name  20
    g.V().hasLabel("person").has("age",$RAND).values("name")   age    10
    """
    res = run_emu(g, cfg, max_queries=12)
    assert res.total_queries == 12
    assert res.template_modes == {0: "prepared", 1: "prepared"}
    assert res.warmup_s > 0
    # fallback path still works end-to-end and agrees on counts
    res2 = run_emu(g, cfg, max_queries=12, prepare_templates=False)
    assert res2.total_queries == 12
    assert res2.template_modes == {0: "per-query", 1: "per-query"}
