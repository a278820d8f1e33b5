"""Regression tests for the round-3 self-review findings: literal-class
gating in prepared serving, nested-barrier rejection, emu fallbacks,
eviction-safe close(), bookkeeping caps, decimal keys."""

import pytest
from pyspark.sql import functions as F

from grasper_spark import G, PropertyGraph
from grasper_spark.plans.prepared import PrepareError, PreparedQuery, prepare


def test_cross_class_literal_never_served_from_numeric_shape(modern):
    from grasper_spark import G

    gi = G(modern)
    # trip auto-prepare on the numeric-literal shape
    for n in (27, 29, 32):
        gi.query(f'g.V().has("age",{n}).values("name")').collect()
    assert sum(1 for v in gi._auto_prepared.values() if v) == 1
    # a STRING literal on the same steps is a different shape AND the
    # predicate type gate makes it empty — must not crash, must be empty
    assert gi.query('g.V().has("age","zzz").values("name")').collect() == []
    assert gi.query('g.V().has("age","29").values("name")').collect() == []


def test_prepared_rows_class_gate(g):
    p = prepare(g, 'g.V().has("age",$RAND).values("name")')
    assert p.rows("zzz") == []      # was: int('zzz') ValueError
    assert p.rows("29") == []       # string literal ≠ numeric 29
    assert p.rows(True) == []       # bool is not num
    assert p.rows(29) == [("marko",)]
    ps = prepare(g, 'g.V().has("name","$RAND").values("age")')
    assert ps.rows(29) == []        # num literal on string key
    assert ps.rows("marko") == [(29,)]


def test_nested_union_barrier_rejected(g):
    # round 5: these shapes SERVE per-query by default (PerQueryPrepared)
    # — the grouped-materialization rejection is behind fallback=False
    with pytest.raises(PrepareError, match="union"):
        prepare(
            g, 'g.V().has("age",$RAND).union(out("knows").count())',
            fallback=False,
        )
    # nested sample inside a branch is rejected too (StepInfo.prepare, any depth)
    with pytest.raises(PrepareError, match="not preparable"):
        prepare(g, 'g.V().has("age",$RAND).and(out().sample(2))', fallback=False)
    # the default returns the fallback tier with per-query answers
    p = prepare(g, 'g.V().has("age",$RAND).union(out("knows").count())')
    assert p.mode == "fallback"
    assert p.rows(29) == [(2,)]
    p.close()


def test_auto_prepare_skips_nested_union_barrier(modern):
    gi = G(modern)
    q = 'g.V().has("age",{}).union(out("knows").count())'
    base = {n: sorted(r.val for r in gi.query(q.format(n)).collect())
            for n in (27, 29, 32)}
    # shape never auto-prepares (deep name check catches the barrier)
    assert not any(v for v in gi._auto_prepared.values())
    for n, want in base.items():
        got = sorted(r.val for r in gi.query(q.format(n)).collect())
        assert got == want


def test_emu_empty_domain_template_falls_back(g):
    from grasper_spark.emu import run_emu

    # 'created' targets have no outgoing 'nosuch' edges: the prepared
    # materialization is empty for every name — emu must fall back to
    # per-query, not abort
    cfg = ("5 2\n1\n"
           'g.V().has("name","$RAND").out("nosuchlabel").values("name")  name  10\n')
    res = run_emu(g, cfg, max_queries=4)
    assert res.total_queries == 4
    assert res.template_modes == {0: "per-query"}


def test_closed_prepared_still_serves(g):
    # an evicted/closed instance held by a concurrent thread keeps
    # working (uncached scan), both tiers
    p = prepare(g, 'g.V().has("name","$RAND").values("age")')
    p.close()
    assert p.rows("marko") == [(29,)]
    assert p.df("marko").collect()[0][0] == 29


def test_decimal_param_keys_roundtrip(spark):
    v = spark.createDataFrame(
        [(1, "x", "5694.03"), (2, "x", "11.50")],
        "vid long, label string, bal string",
    ).withColumn("bal", F.col("bal").cast("decimal(12,2)"))
    e = spark.createDataFrame([], "src long, dst long, label string")
    gd = G(PropertyGraph(v, e))
    p = PreparedQuery(gd, 'g.V().has("bal",$RAND)')
    assert p.param_dtype.startswith("decimal")
    assert [r for r in p.rows(5694.03)] == [(1,)]
    assert p.rows(11.5) == [(2,)]
    assert p.rows(99.99) == []


def test_fractional_float_on_integer_key_matches_nothing(g):
    p = prepare(g, 'g.V().has("age",$RAND).values("name")')
    assert p.rows(29.9) == []       # was: int(29.9) -> 29 -> wrong rows
    assert p.rows(29.0) == [("marko",)]
    assert p.rows(29) == [("marko",)]
    pid = prepare(g, 'g.V().hasId($RAND).values("name")')
    assert pid.rows(1.5) == []
    assert pid.rows(1.0) == [("marko",)]


def test_edge_id_packing_round_trips_through_hasid(g):
    # the eid id() EXPOSES must be matchable by hasId (one shared
    # packing: src<<32 | dst)
    eids = [r.val for r in g.E().hasLabel("knows").id().df().collect()]
    assert (1 << 32) | 2 in eids
    for e in eids:
        got = g.E().hasId(int(e)).count().to_list()
        assert got == [1], e
    # the other packing (src<<33 + dst) must NOT match
    assert g.E().hasId((1 << 33) + 2).count().to_list() == [0]


def test_decimal_param_values_roundtrip_through_rows(spark):
    # param_values() keys (Decimal) must be servable straight back —
    # the emu warm-up samples exactly those values
    from pyspark.sql import functions as F

    v = spark.createDataFrame(
        [(1, "x", "5694.03"), (2, "x", "11.50")],
        "vid long, label string, bal string",
    ).withColumn("bal", F.col("bal").cast("decimal(12,2)"))
    e = spark.createDataFrame([], "src long, dst long, label string")
    gd = G(PropertyGraph(v, e))
    p = PreparedQuery(gd, 'g.V().has("bal",$RAND)')
    for val in p.param_values():
        assert p.rows(val) != [], val


def test_concurrent_same_template_snapshot_write(g, tmp_path):
    # emu-style concurrent prepare() of the SAME template with a shared
    # cache dir: exactly one consistent snapshot, correct serving
    from concurrent.futures import ThreadPoolExecutor

    cache = str(tmp_path / "race")
    t = 'g.V().has("name","$RAND").values("age")'

    def build(_):
        return prepare(g, t, cache_dir=cache)

    with ThreadPoolExecutor(max_workers=4) as ex:
        ps = list(ex.map(build, range(4)))
    for p in ps:
        assert p.rows("marko") == [(29,)]
    import os

    snaps = [d for d in os.listdir(cache) if d.startswith("pq_")]
    assert len(snaps) == 1
    leftovers = [
        d for d in os.listdir(os.path.join(cache, snaps[0]))
        if d.startswith("data.tmp")
    ]
    assert leftovers == []
    # a fresh load serves the same answers
    p2 = prepare(g, t, cache_dir=cache)
    assert p2.rows("marko") == [(29,)]


def test_shape_bookkeeping_bounded(modern):
    gi = G(modern)
    gi.AUTO_PREPARE_AFTER = 10**9  # count only, never materialize
    for i in range(20):
        gi.query(f'g.V().has("age",{i}).values("name")').collect()
        gi.query(f'g.V().has("age",{i}).label()').collect()
    # distinct literals collapse into per-shape counters, not per-query
    assert len(gi._shape_seen) == 2
