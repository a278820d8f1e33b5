"""Point reads served from the driver: ``PreparedQuery.df`` answers from
the driver rows (the local map, or a relation-tier row-LRU hit) with a
served frame over an Arrow-built LocalRelation, and ``G.query`` keeps
that frame in its plan cache. Collecting it starts no Spark job and, on
a plan-cache hit, makes no py4j call; its rows, order, dtypes, nulls
and ``Row`` fields equal both the per-query answer and the JVM collect
of the same relation."""

import gc
import threading
import uuid
import weakref

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from grasper_spark import G, PropertyGraph
from grasper_spark.plans.compiler import Step
from grasper_spark.plans.predicates import P
from grasper_spark.plans.prepared import PreparedQuery, ServedFrame, prepare
from tests.test_prepared_differential import VERTS, point_shape


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    gid = f"driver-serve-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _py4j_calls(spark, fn):
    """(fn(), number of py4j commands fn sent to the JVM)."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counting(*a, **k):
        sent[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, sent[0]


def _assert_jvm_identical(df, ctx=None) -> bool:
    """When ``df`` is a served frame, its collect equals the JVM collect
    of its relation in rows, order, Python types, nulls and ``Row``
    fields. True when ``df`` was a served frame."""
    if not isinstance(df, ServedFrame):
        return False
    got, want = df.collect(), ClassicDataFrame.collect(df)
    assert got == want, ctx
    assert [[type(x) for x in r] for r in got] == [[type(x) for x in r] for r in want], ctx
    assert [list(r.__fields__) for r in got] == [list(r.__fields__) for r in want], ctx
    assert [r.asDict() for r in got] == [r.asDict() for r in want], ctx
    return True


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _live(gi):
    return [v for v in gi._auto_prepared.values() if v not in (None, gi._BUILDING)]


def _prepare_shape(gi, q, values):
    """Send ``q`` with each value until the shape is auto-prepared."""
    for v in values:
        gi.query(q.format(v)).collect()
    (rec,) = _live(gi)
    return rec


# ---------------------------------------------------------------- jobs


def test_local_tier_query_starts_no_job(spark, modern):
    gi = G(modern)
    q = 'g.V().has("name","{}").out("created").values("name")'
    rec = _prepare_shape(gi, q, ["marko", "vadas", "josh"])
    assert rec.mode == "local"
    for n in ("peter", "josh", "nobody", "peter"):
        rows, jobs = _jobs(spark, lambda: gi.query(q.format(n)).collect())
        assert jobs == 0, n
    df = gi.query(q.format("peter"))
    assert "LocalTableScan" in _plan(df)
    assert gi._plan_cache[q.format("peter")] is df  # repeats skip parse + Arrow
    rec.close()


def test_value_seen_before_preparation_is_driver_served(spark, modern):
    gi = G(modern)
    q = 'g.V().has("name","{}").out("knows").values("age")'
    early = [q.format(n) for n in ("marko", "vadas")]
    for s in early:  # per-query sightings: their plans enter the cache
        gi.query(s).collect()
    assert all(s in gi._plan_cache for s in early)
    gi.query(q.format("josh")).collect()  # third sighting prepares
    rec = _live(gi)[0]
    # the per-query entries of the earlier sightings were dropped
    assert not any(s in gi._plan_cache for s in early)
    rows, jobs = _jobs(spark, lambda: gi.query(early[0]).collect())
    assert jobs == 0 and sorted(r.val for r in rows) == [27, 32]
    rec.close()


def test_relation_tier_lru_hit_is_driver_served(spark, modern):
    g = G(modern, cache_plans=False)
    p = PreparedQuery(
        g, 'g.V().has("name","$RAND").out("created").values("name")',
        max_local_rows=0,
    )
    try:
        assert p.mode == "relation"
        want = p.rows("josh")  # cold: one filter job fills the row LRU
        (df, n), jobs = _jobs(spark, lambda: p.serve_df("josh"))
        got, jobs2 = _jobs(spark, lambda: [tuple(r) for r in df.collect()])
        assert n == len(want) == 2 and got == want and jobs + jobs2 == 0
        assert _assert_jvm_identical(df)
        # a miss stays a filter over the persisted relation
        miss, n_miss = p.serve_df("peter")
        assert n_miss == 0 and "LocalTableScan" not in _plan(miss)
        assert not isinstance(miss, ServedFrame)
        assert [tuple(r) for r in miss.collect()] == [("lop",)]
    finally:
        p.close()


def test_non_arrow_dtype_keeps_the_relation_filter(spark):
    import datetime as dt

    v = spark.createDataFrame(
        [(1, "person", "ann", dt.datetime(2024, 1, 2, 3, 4, 5)),
         (2, "person", "bob", None)],
        "vid long, label string, name string, seen timestamp",
    )
    e = spark.createDataFrame([(1, 2, "knows")], "src long, dst long, label string")
    g = G(PropertyGraph(v, e), cache_plans=False)
    p = prepare(g, 'g.V().has("name","$RAND").values("seen")')
    try:
        assert p.mode == "local" and not p._arrow_ok
        df, n = p.serve_df("ann")
        assert n == 0 and "LocalTableScan" not in _plan(df)
        assert not isinstance(df, ServedFrame)
        assert [tuple(r) for r in df.collect()] == p.rows("ann")
        assert dict(df.dtypes)["val"] == "timestamp"
    finally:
        p.close()


# ----------------------------------------------------------- identity


#: (query template, values): literal classes cover in-domain,
#: out-of-domain and class-mismatched values
IDENTITY = [
    ('g.V().has("name",{}).out("created").values("name")',
     ['"marko"', '"josh"', '"peter"', '"vadas"', '"nobody"', "29"]),
    ('g.V().has("name",{}).out("knows").values("age")',
     ['"marko"', '"vadas"', '"josh"', '"ghost"']),
    ('g.V().has("age",{}).values("name")', ["29", "27", "32", "35", "29.0", "29.5", '"29"', "99"]),
    # barrier: absent groups serve the empty-input aggregate (count 0)
    ('g.V().has("name",{}).out("created").count()',
     ['"marko"', '"josh"', '"vadas"', '"lop"', '"nobody"', "7"]),
    ('g.V().has("name",{}).out().values("age").sum()',
     ['"marko"', '"josh"', '"peter"', '"nobody"']),
    # nulls: lang is null on people, set on software
    ('g.V().has("age",{}).valueMap("name","lang")', ["29", "32", "35", "99"]),
    ('g.V().has("lang",{}).in("created").project("n","a").by("name").by("age")',
     ['"java"', '"cobol"', '"scala"']),
    ('g.E().has("weight",{}).outV().values("name")', ["0.4", "1.0", "0.5", "0.3", "1"]),
]


@pytest.mark.parametrize("template,values", IDENTITY)
def test_served_answers_equal_caching_off(spark, modern, template, values):
    gi, off = G(modern), G(modern, cache_plans=False)
    served = 0
    for v in values + values:  # the second pass is served from the plan cache
        q = template.format(v)
        got, want = gi.query(q), off.query(q)
        assert got.dtypes == want.dtypes, q
        assert _sorted(got) == _sorted(want), q
        served += _assert_jvm_identical(got, q)
    assert _live(gi), template  # the shape did auto-prepare
    # Arrow-safe results are served from the driver
    assert served or not all(rec._arrow_ok for rec in _live(gi)), template
    for rec in _live(gi):
        rec.close()


def test_ordered_template_keeps_order(spark, modern):
    g = G(modern, cache_plans=False)
    t = 'g.V().has("lang","$RAND").in("created").values("name").order().by(desc)'
    p = prepare(g, t)
    try:
        df, n = p.serve_df("java")
        assert n == 4 and "LocalTableScan" in _plan(df)
        want = g.query(t.replace("$RAND", "java")).collect()
        assert [tuple(r) for r in df.collect()] == [tuple(r) for r in want]
        assert _assert_jvm_identical(df)
    finally:
        p.close()


@given(shape=point_shape())
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_served_df_matches_per_query_on_generated_shapes(spark, gd, shape):
    steps, idxs = shape
    keys = ["__id__" if steps[i].name == "hasId" else steps[i].args[0] for i in idxs]
    p = PreparedQuery(gd, steps=list(steps), param_idx=idxs if len(idxs) > 1 else idxs[0])
    try:
        domain = list(p.param_values())[:6]
        missing = tuple("zzz" if k == "name" else 10**9 for k in keys)
        mismatched = tuple(1 if k == "name" else "x" for k in keys)
        for probe in domain + [missing, mismatched]:
            vals = probe if isinstance(probe, tuple) else (probe,)
            concrete = list(steps)
            for i, k, v in zip(idxs, keys, vals):
                concrete[i] = (
                    Step("hasId", (P.eq(v),)) if k == "__id__" else Step("has", (k, P.eq(v)))
                )
            want = gd.traversal(concrete).df()
            arg = vals[0] if len(idxs) == 1 else tuple(vals)
            got, _ = p.serve_df(arg)
            assert got.dtypes == want.dtypes, (steps, vals)
            assert _sorted(got) == _sorted(want), (steps, vals)
            # served unless the value's class mismatches or a barrier
            # template synthesizes its empty-input answer
            v = p._coerce_all(arg)
            held = v is not None and not (p._empty_rows and v not in p._local)
            assert _assert_jvm_identical(got, (steps, vals)) == (p._arrow_ok and held)
    finally:
        p.close()


@pytest.fixture(scope="module")
def gd(spark):
    from tests.test_prepared_differential import EDGES

    v = spark.createDataFrame(VERTS, "vid long, label string, age long, name string")
    e = spark.createDataFrame(EDGES, "src long, dst long, label string, w long")
    pg = PropertyGraph(v, e)
    pg.vertices.cache().count()
    pg.edges.cache().count()
    return G(pg, cache_plans=False)


# -------------------------------------------- freshness and release


def test_answers_fresh_after_refresh_and_hot_shape_reprepares(spark, tmp_path):
    log = str(tmp_path / "edges")
    v = spark.createDataFrame(
        [(i, "person", f"p{i}") for i in (1, 2, 3, 4)], "vid long, label string, name string"
    )
    spark.createDataFrame([(1, 2, "knows")], "src long, dst long, label string") \
        .write.mode("append").parquet(log)

    def load():
        return PropertyGraph(v, spark.read.parquet(log))

    gi = G(load(), graph_loader=load)
    q = 'g.V().has("name","{}").out("knows").values("name")'
    _prepare_shape(gi, q, ["p1", "p2", "p3"])
    assert [r.val for r in gi.query(q.format("p1")).collect()] == ["p2"]

    spark.createDataFrame([(1, 3, "knows")], "src long, dst long, label string") \
        .write.mode("append").parquet(log)
    gi.refresh()
    assert gi._plan_cache == {} and gi._auto_prepared == {}
    # the shape was live: its FIRST sighting after refresh re-prepares
    rows, _ = _jobs(spark, lambda: gi.query(q.format("p1")).collect())
    assert sorted(r.val for r in rows) == ["p2", "p3"]
    (rec,) = _live(gi)
    rows, jobs = _jobs(spark, lambda: gi.query(q.format("p1")).collect())
    assert jobs == 0 and sorted(r.val for r in rows) == ["p2", "p3"]
    rec.close()


def test_eviction_releases_served_copies(spark, modern):
    gi = G(modern)
    gi.AUTO_PREPARE_MAX = 1
    qa = 'g.V().has("name","{}").out("created").values("name")'
    qb = 'g.V().has("name","{}").label()'
    _prepare_shape(gi, qa, ["marko", "vadas", "josh"])
    served = [gi.query(qa.format(n)) for n in ("peter", "josh")]
    refs = [weakref.ref(df) for df in served]
    owned = [q for q, s in gi._plan_owner.items() if gi._auto_prepared.get(s)]
    assert len(owned) == 2 and all(q in gi._plan_cache for q in owned)
    del served
    for n in ("marko", "vadas", "josh"):  # prepares B, evicting A
        gi.query(qb.format(n)).collect()
    assert not any(q in gi._plan_cache or q in gi._plan_owner for q in owned)
    gc.collect()
    assert all(r() is None for r in refs)
    for rec in _live(gi):
        rec.close()


def test_served_rows_bounded_by_template(spark, modern):
    gi = G(modern)
    q = 'g.V().has("lang",{}).in("created").values("name")'
    rec = _prepare_shape(gi, q, ['"java"', '"cobol"', '"scala"'])
    assert rec.total_rows == 4
    # two spellings of one value: their JVM copies would exceed the
    # template's own rows, so the second is served but not kept
    first, second = q.format('"java"'), q.format("'java'")
    gi.query(first).collect()
    rows, jobs = _jobs(spark, lambda: gi.query(second).collect())
    assert jobs == 0 and len(rows) == 4
    assert first in gi._plan_cache and second not in gi._plan_cache
    assert rec._plan_rows <= rec.total_rows
    rec.close()


# ------------------------------------------------------ served frames


def test_served_frame_only_for_driver_held_answers(spark, modern):
    """Served: local-map hits and misses of per-traverser templates.
    Not served: the empty-input synthesis of barrier templates."""
    g = G(modern, cache_plans=False)
    names = prepare(g, 'g.V().has("name","$RAND").out("created").values("name")')
    counts = prepare(g, 'g.V().has("name","$RAND").out("created").count()')
    try:
        for v in ("josh", "nobody"):
            df, _ = names.serve_df(v)
            assert _assert_jvm_identical(df), v
        assert _assert_jvm_identical(counts.serve_df("josh")[0])
        empty, n = counts.serve_df("nobody")
        assert n == 1 and not isinstance(empty, ServedFrame)
        assert [tuple(r) for r in empty.collect()] == [(0,)]
    finally:
        names.close()
        counts.close()


def test_served_collect_identity_across_arrow_dtypes(spark):
    """Every Arrow-safe dtype, with nulls, collects from the driver
    exactly as the JVM returns it."""
    import datetime as dt
    from decimal import Decimal

    cols = "x_date date, x_dec decimal(10,2), x_bool boolean, x_float float, " \
           "x_small smallint, x_tiny tinyint, x_int int, x_long bigint, x_str string"
    v = spark.createDataFrame(
        [(1, "person", "ann", dt.date(2024, 2, 29), Decimal("1.50"), True, 0.1, 7, -3, 2**31 - 1,
          2**40, "é"),
         (2, "person", "ann", None, None, None, None, None, None, None, None, None),
         (3, "person", "bob", dt.date(1970, 1, 1), Decimal("-0.01"), False, -2.5, -1, 0, 0,
          -1, "")],
        f"vid long, label string, name string, {cols}",
    )
    e = spark.createDataFrame([(1, 3, "knows")], "src long, dst long, label string")
    g = G(PropertyGraph(v, e), cache_plans=False)
    for c in [c.split()[0] for c in cols.split(", ")]:
        p = prepare(g, f'g.V().has("name","$RAND").values("{c}")')
        try:
            assert p._arrow_ok, c
            for name in ("ann", "bob"):
                assert _assert_jvm_identical(p.serve_df(name)[0], (c, name))
        finally:
            p.close()


def test_plan_cache_hit_collect_is_driver_only(spark, modern):
    gi = G(modern)
    q = 'g.V().has("name","{}").out("created").values("name")'
    rec = _prepare_shape(gi, q, ["marko", "vadas", "josh"])
    s = q.format("josh")
    first = gi.query(s)
    assert isinstance(first, ServedFrame) and gi._plan_cache[s] is first
    first.collect()  # builds the Row objects once
    (rows, calls), jobs = _jobs(
        spark, lambda: _py4j_calls(spark, lambda: gi.query(s).collect())
    )
    assert calls == 0 and jobs == 0
    assert sorted(r.val for r in rows) == ["lop", "ripple"]
    _, jvm_calls = _py4j_calls(spark, lambda: ClassicDataFrame.collect(first))
    assert jvm_calls > 0  # the counter sees the JVM path
    rec.close()


def test_collect_returns_a_fresh_list(spark, modern):
    g = G(modern, cache_plans=False)
    p = prepare(g, 'g.V().has("name","$RAND").out("knows").values("age")')
    try:
        df, _ = p.serve_df("marko")
        got = df.collect()
        want = list(got)
        got.append("junk")
        got[0] = None
        got.reverse()
        assert df.collect() == want
        assert df.collect() is not df.collect()
    finally:
        p.close()


def test_threads_collecting_one_frame_agree(spark, modern):
    import sys

    g = G(modern, cache_plans=False)
    p = prepare(g, 'g.V().has("lang","$RAND").in("created").values("name")')
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        df, _ = p.serve_df("java")  # never collected: threads race the first build
        start = threading.Barrier(8)
        out = [None] * 8

        def client(i):
            start.wait(timeout=30)
            out[i] = [df.collect() for _ in range(50)]

        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        want = ClassicDataFrame.collect(df)
        assert len(want) == 4
        assert all(got == want for lists in out for got in lists)
    finally:
        sys.setswitchinterval(old)
        p.close()


def test_served_frame_other_methods_use_the_relation(spark, modern):
    g = G(modern, cache_plans=False)
    p = prepare(g, 'g.V().has("name","$RAND").out("knows").values("age")')
    try:
        df, _ = p.serve_df("marko")
        assert isinstance(df, ServedFrame)
        assert df.count() == 2 and df.columns == ["val"]
        assert dict(df.dtypes) == {"val": "int"}
        assert sorted(df.toPandas()["val"].tolist()) == [27, 32]
        assert [r.val for r in df.filter("val > 30").collect()] == [32]
        assert sorted(r.val for r in df.union(df).collect()) == [27, 27, 32, 32]
        assert df.select((F.col("val") + 1).alias("v")).orderBy("v").first().v == 28
        assert len(df.take(1)) == 1 and df.limit(0).collect() == []
        assert df._jdf.queryExecution() is not None
        assert "LocalTableScan" in _plan(df)
        df.explain()
        assert sorted(df.rdd.map(lambda r: r.val).collect()) == [27, 32]
    finally:
        p.close()
