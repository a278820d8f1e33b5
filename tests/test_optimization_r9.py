"""Round-9 optimization pins: every rewrite here must be
result-identical to the formulation it replaced — the tests assert the
row-set contract AND the plan property the rewrite exists for."""

import pytest
from pyspark.sql import functions as F


EDGE_DOCS = [
    (0, ""),
    (1, "   "),
    (2, "a"),
    (3, "a b c d e a b c d e a b c d e"),  # in-doc repeat
    (4, "x y z q r s t u v w"),            # unique
    (5, "a b c d e tail tail tail"),       # cross-doc repeat with 3
    (6, "a b c d e prefix only once"),
    (7, "Ünï çôdé Ünï çôdé Ünï çôdé Ünï çôdé"),
    (8, "  spaced   out\ttokens\nhere  a b c d e "),
]


def _old_remove_repeated_spans(df, spans, unit, text_col="text", id_col="doc_id"):
    """The pre-r9 formulation: explode token rows, anti-join spans,
    reassemble via groupBy(id).collect_list — kept verbatim as the
    differential reference."""
    from grasper_spark.functions.dedup import _positional_units
    from grasper_spark.functions.text import normalize, tokens

    sep = " " if unit == "word" else ""
    toks = _positional_units(df, text_col, id_col, unit)
    sp = spans.select(F.col(id_col).alias("_sid"), "span_start", "span_end")
    covered = (
        (toks[id_col] == sp["_sid"])
        & (toks["pos"] >= sp["span_start"])
        & (toks["pos"] < sp["span_end"])
    )
    kept = toks.join(sp, covered, "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "t"))).alias("_a"),
    ).select(
        id_col,
        F.concat_ws(sep, F.transform("_a", lambda s: s["t"])).alias("text"),
        F.size("_a").cast("long").alias("n_tokens"),
    )
    norm = normalize(F.col(text_col))
    total = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(tokens(norm)) if unit == "word" else F.length(norm)
    )
    totals = df.select(F.col(id_col), total.cast("long").alias("_total"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        (F.col("_total") - F.coalesce(F.col("n_tokens"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


@pytest.mark.parametrize("unit,n", [("word", 3), ("word", 5), ("char", 4)])
def test_remove_repeated_spans_matches_old_formulation(spark, unit, n):
    from grasper_spark.functions.dedup import (
        remove_repeated_spans, repeated_ngram_spans,
    )

    docs = spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])
    spans = repeated_ngram_spans(docs, n=n, min_count=2, unit=unit)
    new = remove_repeated_spans(docs, spans=spans, unit=unit)
    old = _old_remove_repeated_spans(docs, spans, unit)
    assert new.columns == old.columns
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_remove_repeated_spans_no_payload_reassembly(spark):
    """The rewrite's reason to exist: no collect_list reassembly and no
    exchange carrying the token payload — the only aggregate groups the
    small span rows."""
    from grasper_spark.functions.dedup import (
        remove_repeated_spans, repeated_ngram_spans,
    )

    docs = spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])
    spans = repeated_ngram_spans(docs, n=3, min_count=2)
    plan = (
        remove_repeated_spans(docs, spans=spans)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the old plan collected (pos, t) structs per doc; the new plan's
    # only collect_list is over the (span_start, span_end) structs
    assert "collect_list(struct(pos" not in plan
    assert "collect_list(struct(span_start" in plan


def test_remove_repeated_spans_caller_supplied_spans(spark):
    """Spans for one doc never bleed into another; out-of-range and
    overlapping caller spans behave like the old anti-join."""
    from grasper_spark.functions.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    spans = spark.createDataFrame(
        [(1, 1, 3, 1), (1, 2, 4, 1), (2, 100, 200, 1)],
        ["doc_id", "span_start", "span_end", "n_grams"],
    )
    rows = {
        r["doc_id"]: r
        for r in remove_repeated_spans(docs, spans=spans).collect()
    }
    assert rows[1]["text"] == "a e"
    assert rows[1]["n_tokens"] == 2 and rows[1]["n_removed"] == 3
    assert rows[2]["text"] == "a b c d e"
    assert rows[2]["n_tokens"] == 5 and rows[2]["n_removed"] == 0


def _brute_pair_stats(rows, n=3, max_df=10000):
    """Reference overlap stats computed in Python: distinct word
    n-gram shingles per doc, hot shingles (df > max_df) dropped."""
    from collections import Counter

    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.strip().lower())

    sh = {}
    for did, text in rows:
        toks = norm(text).split(" ") if norm(text) else []
        sh[did] = {
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        }
    cnt = Counter(g for s in sh.values() for g in s)
    hot = {g for g, c in cnt.items() if c > max_df}
    eff = {d: s - hot for d, s in sh.items()}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            common = len(eff[a] & eff[b])
            if common:
                out[(a, b)] = (common, len(eff[a]), len(eff[b]))
    return out


@pytest.mark.parametrize("shift", [0, 1 << 31])
def test_overlap_pair_stats_packed_and_fallback_match_reference(spark, shift):
    """shift=0 exercises the packed-long pair key; shift=2^31 pushes
    ids past the 31-bit guard so the two-column fallback runs. Both
    must equal the brute-force reference (and hence each other)."""
    from grasper_spark.functions import dedup as D

    rows = [
        (0 + shift, "a b c d e f g"),
        (1 + shift, "a b c d e x y"),
        (2 + shift, "a b c d e f g"),
        (3 + shift, "q r s t u v w"),
        (4 + shift, "c d e f g h i"),
        (5 + shift, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # fresh slot: these tiny corpora must not reuse a previous test's
    # persisted relation
    D._SH_ARGS_CACHE.clear()
    D._OPS_CACHE.clear()
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["sz_a"], r["sz_b"])
        for r in D.overlap_pair_stats(df, max_shingle_df=3).collect()
    }
    want = _brute_pair_stats(rows, n=3, max_df=3)
    assert got == want
    # schema must be identical in both regimes
    sdf = D.overlap_pair_stats(df, max_shingle_df=3)
    assert [f.name for f in sdf.schema.fields] == [
        "id_a", "id_b", "common", "sz_a", "sz_b"
    ]
    assert dict(sdf.dtypes)["id_a"] == "bigint"


@pytest.mark.parametrize("threshold", [0.2, 0.5, 0.8])
def test_min_overlap_frac_prefilter_is_result_identical(spark, threshold):
    """min_overlap_frac drops pairs BEFORE the size-attach joins; the
    consumer's own measure filter must keep exactly the same rows as
    the unfiltered stats + filter. The corpus is built so the raw pair
    stream has many low-overlap pairs (the pre-filter must actually
    prune) plus near-dup pairs above every tested threshold."""
    from grasper_spark.functions import dedup as D

    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),          # exact dup of 0
        (2, "a b c d e f g x y z"),          # high overlap with 0/1
        (3, "a b c q r s t u v w"),          # common=1 with 0-2
        (4, "m n o p q r s t u v"),          # common=4 with 3
        (5, "zz yy xx ww vv uu tt ss rr qq"),  # no overlap
    ]
    # every doc has 10 tokens → 8 trigrams → corpus min size m = 8
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def _stats(frac):
        D._SH_ARGS_CACHE.clear()
        D._OPS_CACHE.clear()
        return D.overlap_pair_stats(df, min_overlap_frac=frac)

    raw = {
        (r["id_a"], r["id_b"]): (r["common"], r["sz_a"], r["sz_b"])
        for r in _stats(None).collect()
    }
    pre = {
        (r["id_a"], r["id_b"]): (r["common"], r["sz_a"], r["sz_b"])
        for r in _stats(threshold).collect()
    }
    # exact pre-filter semantics: keep precisely the pairs with
    # common ≥ (t − 1e-6)·m, m = 8 for this corpus
    assert pre == {
        k: v for k, v in raw.items() if v[0] >= (threshold - 1e-6) * 8
    }

    def jac(c, sa, sb):
        return round(c / (sa + sb - c), 6)

    def cont(c, s):
        return round(c / s, 6)

    # consumer-level identity: jaccard pairs from the pre-filtered base
    # equal the reference computed from the UNfiltered stats
    want_j = {
        k: jac(c, sa, sb)
        for k, (c, sa, sb) in raw.items()
        if jac(c, sa, sb) >= threshold
    }
    D._SH_ARGS_CACHE.clear()
    D._OPS_CACHE.clear()
    got_j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got_j == want_j

    # containment: both directions, reference from unfiltered stats
    want_c = {}
    for (a, b), (c, sa, sb) in raw.items():
        if cont(c, sa) >= threshold:
            want_c[(a, b)] = cont(c, sa)
        if cont(c, sb) >= threshold:
            want_c[(b, a)] = cont(c, sb)
    D._SH_ARGS_CACHE.clear()
    D._OPS_CACHE.clear()
    got_c = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in D.containment_pairs(df, threshold=threshold).collect()
    }
    assert got_c == want_c

    # the pre-filter must have actually pruned low-overlap pairs
    # (otherwise this test exercises nothing)
    assert len(pre) < len(raw)


def test_min_overlap_frac_disabled_by_all_hot_doc(spark):
    """A doc whose every shingle is hot has effective size 0, so the
    corpus-wide min is 0 and the pre-filter must disable itself (bound
    degenerates) rather than dropping valid pairs."""
    from grasper_spark.functions import dedup as D

    hot = "h1 h2 h3 h4 h5"
    rows = [
        (0, hot), (1, hot), (2, hot), (3, hot),  # make every shingle of `hot` hot
        (4, hot + " a b c d e f g"),
        (5, hot + " a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def _stats(frac):
        D._SH_ARGS_CACHE.clear()
        D._OPS_CACHE.clear()
        return {
            (r["id_a"], r["id_b"]): (r["common"], r["sz_a"], r["sz_b"])
            for r in D.overlap_pair_stats(
                df, max_shingle_df=3, min_overlap_frac=frac
            ).collect()
        }

    assert _stats(0.9) == _stats(None)


# ---------- co-occurrence neq fusion (g_where_neq family) ----------

CONEQ_Q = (
    'g.V().hasLabel("{lbl}").as("x").{d1}("{el}").{d2}("{el}")'
    '.where(neq("x")).dedup().count()'
)


def _coneq_graph(spark, edges, labels=None):
    from grasper_spark import G, PropertyGraph
    from pyspark.sql import types as T

    vids = sorted({v for e in edges for v in e[:2]})
    labels = labels or {}
    v = spark.createDataFrame(
        [(i, labels.get(i, "n"), None) for i in vids],
        T.StructType([
            T.StructField("vid", T.LongType()),
            T.StructField("label", T.StringType()),
            T.StructField("name", T.StringType()),
        ]),
    )
    e = spark.createDataFrame(
        [(a, b, lb) for a, b, lb in edges],
        T.StructType([
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("label", T.StringType()),
        ]),
    )
    return G(PropertyGraph(v, e, name=f"coneq{abs(hash(tuple(edges)))%10**8}"))


def _coneq_cases():
    import random

    rng = random.Random(7)
    cases = []
    # random graphs incl. multi-edges, self-loops, two edge labels
    for trial in range(4):
        n = rng.randint(3, 12)
        edges = []
        for _ in range(rng.randint(2, 40)):
            edges.append((
                rng.randrange(n), rng.randrange(n),
                rng.choice(["r", "s"]),
            ))
        cases.append(edges)
    # degenerate: one edge; parallel duplicates only; star
    cases.append([(0, 1, "r")])
    cases.append([(0, 1, "r"), (0, 1, "r"), (0, 1, "r")])
    cases.append([(i, 99, "r") for i in range(5)])
    return cases


@pytest.mark.parametrize("edges", _coneq_cases())
@pytest.mark.parametrize("d1,d2", [("out", "in"), ("in", "out")])
def test_coneq_fusion_matches_literal(spark, edges, d1, d2):
    g = _coneq_graph(spark, edges)
    q = CONEQ_Q.format(lbl="n", d1=d1, d2=d2, el="r")
    fused = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'false')")
    literal = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'true')")
    assert fused == literal


def test_coneq_fusion_respects_start_filter(spark):
    """Only stream-side vertices count as 'a different co-supplier':
    vertices outside the hasLabel filter must not make b qualify."""
    edges = [(0, 10, "r"), (1, 10, "r"), (2, 20, "r"), (3, 20, "r")]
    g = _coneq_graph(spark, edges, labels={0: "m", 1: "n", 2: "n", 3: "n"})
    q = CONEQ_Q.format(lbl="n", d1="out", d2="in", el="r")
    fused = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'false')")
    literal = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'true')")
    # part 10's only in-stream supplier is 1, so only 0 (not 1) could
    # qualify through it — and 0,2,3 do qualify: expected count 3
    assert fused == literal
    assert fused[0][0] == 3


def test_coneq_peephole_fires_and_guards():
    from grasper_spark.plans.compiler import GremlinCompiler, Step
    from grasper_spark.plans.predicates import P

    base = [
        Step("V"), Step("hasLabel", ("n",)), Step("as", ("x",)),
        Step("out", ("r",)), Step("in", ("r",)),
        Step("where", (P.neq("x"),)), Step("dedupCount"),
    ]
    fused = GremlinCompiler._fuse_co_neq_dedup_count(base)
    assert [s.name for s in fused] == ["V", "hasLabel", "coNeqDedupCount"]
    assert fused[-1].args == ("out", ("r",))
    # guards: label mismatch, direction repeat, labeled dedup, later ref
    for steps in (
        base[:3] + [Step("out", ("r",)), Step("in", ("s",))] + base[5:],
        base[:3] + [Step("out", ("r",)), Step("out", ("r",))] + base[5:],
        base[:6] + [Step("dedupCount", ("x",))],
        base + [Step("select", ("x",))],
    ):
        out = GremlinCompiler._fuse_co_neq_dedup_count(steps)
        assert all(s.name != "coNeqDedupCount" for s in out)


# ---------- repetition_stats bigram index-explode rewrite ----------

def test_repetition_stats_matches_window_formulation(spark):
    """The r9 index-explode bigram build must equal the old posexplode
    + Window.partitionBy(id) + lead formulation (kept inline here as
    the differential reference), and its plan must carry no Window."""
    from pyspark.sql import Window

    from grasper_spark.functions.text import (
        dup_line_fraction, repetition_stats, token_count, tokens,
    )

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "a a a a a"),
            (3, "x y x y x y"),
            (4, "  padded   text with  odd   spacing "),
            (5, "Tab\tand\nnewline separated tokens here"),
            (6, "solo bigram"),
        ],
        ["doc_id", "text"],
    )
    new = repetition_stats(docs)

    t = F.col("text")
    base = docs.select(
        F.col("doc_id"),
        dup_line_fraction(t).alias("dup_line_frac"),
        token_count(t).alias("n_tokens"),
        tokens(F.lower(t)).alias("_tk"),
    )
    ex = base.select("doc_id", F.posexplode("_tk").alias("_pos", "_tok"))
    w = Window.partitionBy("doc_id").orderBy("_pos")
    bigrams = (
        ex.withColumn("_nxt", F.lead("_tok").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "_tok", "_nxt").alias("_bg"))
    )
    top = (
        bigrams.groupBy("doc_id", "_bg").agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id").agg(F.max("_c").alias("_mx"))
    )
    old = (
        base.drop("_tk")
        .join(top, "doc_id", "left")
        .withColumn(
            "top_bigram_frac",
            F.when(F.col("n_tokens") < 2, F.lit(0.0)).otherwise(
                F.round(
                    F.coalesce(F.col("_mx"), F.lit(0))
                    / (F.col("n_tokens") - 1), 6
                )
            ),
        )
        .drop("_mx")
    )
    assert new.columns == old.columns
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_coneq_fusion_matches_literal_on_hot_neighbors(spark):
    """The fusion's reason to exist: a hot neighbor (many co-occurring
    sources) makes the literal plan's pair mass quadratic. Results must
    still match exactly."""
    import random

    rng = random.Random(11)
    edges = [(s, 900, "r") for s in range(40)]          # hot neighbor
    for p in range(30):                                  # flat tail
        for s in rng.sample(range(60), 3):
            edges.append((s, 1000 + p, "r"))
    g = _coneq_graph(spark, edges)
    q = CONEQ_Q.format(lbl="n", d1="out", d2="in", el="r")
    fused = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'false')")
    literal = g.query(q).collect()
    g.query("SetConfig('step_reorder', 'true')")
    assert fused == literal


def test_superstep_plans_stay_flat(spark):
    """Every superstep is materialized (localCheckpoint per round), so
    the returned DataFrame's analyzed plan does not grow with the round
    count. Without it each round re-references the previous state 2-3
    times and Catalyst's planning time grows exponentially in the
    unmaterialized window."""
    from grasper_spark.algos import pagerank, sssp
    from grasper_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(i, "n") for i in range(8)], "vid long, label string"
    )
    e = spark.createDataFrame(
        [(0, 1, "r", 1.0), (1, 2, "r", 1.0), (2, 3, "r", 1.0),
         (0, 4, "r", 1.0), (4, 5, "r", 1.0), (5, 3, "r", 1.0),
         (3, 6, "r", 1.0), (6, 0, "r", 1.0)],  # vid 7 dangling+isolated
        "src long, dst long, label string, weight double",
    )
    g = PropertyGraph(v, e, name="flat").cache()

    def nodes(df):
        # one treeString line per logical-plan node
        return len(df._jdf.queryExecution().analyzed().treeString().splitlines())

    assert nodes(pagerank(g, iterations=12)) == nodes(pagerank(g, iterations=2))
    src = v.filter("vid = 0").select("vid")
    assert nodes(sssp(g, src, rounds=12)) == nodes(sssp(g, src, rounds=2))
