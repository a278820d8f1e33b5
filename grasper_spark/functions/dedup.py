"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):
- exact dedup = hash-groupBy on a fingerprint — one shuffle, map-side
  partial aggregation.
- n-gram Jaccard pairs use an INVERTED-INDEX join (explode shingles →
  self-join on shingle → count common), never a cross join. Candidate
  space is bounded by shared-shingle pairs; hot shingles (df > cap) are
  dropped like stopwords to bound skew.
- MinHash: k permutations via (a*x+b) mod p over md5-derived shingle
  ints; banding reduces the pair join to bucket collisions only.
- SimHash: 64-bit sign-aggregate of token hashes; near-dup = small
  Hamming distance on banded prefixes.

All hashes are md5-derived (cross-engine deterministic — see
functions/__init__).  No Python UDFs anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grasper_spark.functions.text import _md5_int, normalize, tokens

MERSENNE_P = 4294967311  # prime > 2^32
# fixed permutation params (seeded once, embedded in oracle SQL too).
# all a < 2^31 so a*x < 2^63 with x < 2^32 — no BIGINT overflow in
# either engine.
_A = [823741393, 1640531527, 507435761, 99822519, 1119489917,
      668265263, 374761393, 930345085, 1181783497, 319324469,
      1281228951, 1588635695, 2006136029, 1503766193, 785373223, 1357904647]
_B = [1234567891, 987654321, 192837465, 564738291, 1029384756,
      2093847561, 847563029, 1726354849, 398472610, 689981371,
      1627384950, 918273645, 746352819, 1983746550, 283746591, 1092837465]


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token-array
    column. `toks` must be a plain column reference, not an expression:
    Spark does no common-subexpression elimination into HOF lambdas, so
    an expression here would re-run (e.g.) the regex tokenizer once per
    element_at — ~150× per row."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.when(cnt < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(grams)
    )


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True,
    unit: str = "word",
) -> DataFrame:
    """(id, sh) rows — n-gram shingles per document (DISTINCT by default;
    pass distinct=False for idempotent consumers like minhash-min, which
    saves the dedup shuffle).

    unit='word' shingles whitespace tokens; unit='char' shingles
    CODEPOINTS of the normalized text — the robust setting for
    unsegmented scripts (CJK), where whitespace tokenization sees one
    giant token per document and word Jaccard degenerates to 0/1.

    ZERO-SHUFFLE formulation: keep the token ARRAY in the row, explode
    the shingle START-INDEX range (a narrow generator), and read the
    n tokens per shingle with try_element_at — everything stays in one
    WholeStageCodegen span with no exchange. The previous posexplode +
    window-lead form shuffled EVERY token row through a
    Window.partitionBy(id) exchange just to reassemble neighbors that
    were already adjacent in the source row (~0.4 s of doc_minhash_sig's
    0.87 s at sf0.1, round-8 optimization). Higher-order-function
    lambdas (transform/array_distinct) would also avoid the shuffle but
    run on Spark's interpreted path (~9 ms/row measured) — the
    index-explode form is codegen end to end.

    Row-set parity with the old window form (pinned by tests): cnt >= n
    → one row per start 0..cnt-n; 0 < cnt < n → ONE row, the whole
    normalized text (try_element_at past the end is NULL and concat_ws
    skips nulls, exactly like the lead() nulls); cnt == 0 → no rows
    (explode of a NULL index range emits nothing, like posexplode of an
    empty array)."""
    if unit == "char":
        units = F.filter(
            F.split(normalize(F.col(text_col)), ""), lambda c: c != ""
        )
        sep = ""
    elif unit == "word":
        units = tokens(normalize(F.col(text_col)))
        sep = " "
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    base = _spread(df).select(F.col(id_col), units.alias("_toks"))
    cnt = F.size("_toks")
    idx = F.when(cnt > 0, F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0))))
    out = base.select(
        F.col(id_col), F.col("_toks"), F.explode(idx).alias("_i")
    ).select(
        id_col,
        F.concat_ws(
            sep,
            *[F.try_element_at("_toks", F.col("_i") + j + 1) for j in range(n)],
        ).alias("sh"),
    )
    return out.distinct() if distinct else out


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram strings of normalized text. Fine for tests /
    small inputs; hot paths use _exploded_shingles (see
    shingles_from_tokens for why)."""
    return shingles_from_tokens(tokens(normalize(text)), n)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's parallelism — local parquet often
    arrives as ONE partition, serializing the shingle computation. At
    cluster scale inputs are already split; this is a cheap no-op-ish
    guard, not a semantic change."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    Returns (fingerprint, keep_id, dup_cnt): one row per distinct
    content, keep_id = smallest id (the retained representative)."""
    return (
        df.select(F.col(id_col), F.md5(normalize(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, shingle_n: int = 3,
) -> DataFrame:
    """(id, sig string "m0,m1,...") — k minhash values per doc.

    min over shingles of (a_i * md5int(shingle) + b_i) mod p; all-BIGINT
    arithmetic (a_i < 2^32, x < 2^32 → product < 2^63.3... kept safe by
    mod p per term)."""
    assert num_hashes <= len(_A)
    # distinct=False: min() is idempotent, duplicate shingles can't
    # change a minhash — skipping the dedup shuffle
    sh = _exploded_shingles(df, text_col, id_col, shingle_n, distinct=False).select(
        id_col, _md5_int(F.col("sh")).alias("x")
    )
    # expressions as SQL strings: one expr() gateway call each instead
    # of ~6 Column-op round trips per hash — plan CONSTRUCTION was
    # ~0.26 s of the query's wall time (py4j latency, measured), pure
    # compile overhead a serving tier pays per query
    mins = [
        F.expr(f"min(({a}L * x + {b}L) % {MERSENNE_P}L) AS m{i}")
        for i, (a, b) in enumerate(zip(_A[:num_hashes], _B[:num_hashes]))
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    cat = ", ".join(f"cast(m{i} as string)" for i in range(num_hashes))
    return sig.selectExpr(
        f"`{id_col}`",
        f"concat_ws(',', {cat}) AS sig",
        *[f"m{i}" for i in range(num_hashes)],
    )


def band_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """(id, b, h) — one row per (doc, LSH band): h = md5 of the band's
    minhash slice. Docs sharing (b, h) are near-dup candidates. The
    shared kernel of minhash_lsh_pairs and the streaming near-dedup."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"m{b * rows_per_band + r}").cast("string")
                               for r in range(rows_per_band)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("b"), F.col(f"band{b}").alias("h"))
                      for b in range(bands)])
        ).alias("bk"),
    ).select(id_col, "bk.b", "bk.h")


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash, verified by
    exact shingle-Jaccard ≥ threshold. Returns (id_a, id_b, jaccard)."""
    buckets = band_buckets(df, text_col, id_col, num_hashes, bands, shingle_n)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.b") == F.col("b.b")) & (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(df, cand, text_col, id_col, shingle_n, threshold)


# one-slot persisted shingle-relation cache: repeated calls over the
# SAME input (bench steady-state runs, curation passes) reuse the
# materialized relation; a different input evicts+unpersists the old
# one, so executor storage is bounded to one relation.
_SH_PERSISTED: list[tuple[int, DataFrame]] = []


def _persist_one_slot(df: DataFrame, registry: list) -> DataFrame:
    """One-slot persisted-relation cache: a semanticHash hit confirmed
    by sameResult reuses the cached relation; anything else evicts and
    unpersists the old occupant (executor storage stays bounded to one
    relation per slot)."""
    jp = df._jdf.queryExecution().analyzed()
    h = jp.semanticHash()
    if registry and registry[0][0] == h and (
        registry[0][1]._jdf.queryExecution().analyzed().sameResult(jp)
    ):
        return registry[0][1]
    while registry:
        registry.pop()[1].unpersist()
    df.persist()
    registry.append((h, df))
    return df


def _persisted_shingles(sh: DataFrame) -> DataFrame:
    return _persist_one_slot(sh, _SH_PERSISTED)


#: one-slot persist of the PER-DOC size relation (id, sz) — one row per
#: document, ~1 MB at sf1. Built once per corpus from the persisted
#: shingle relation; the pair operators re-attach sizes from it AFTER
#: the pair aggregation instead of shipping them through the pair
#: exchange (r9 — see overlap_pair_stats).
_SZ_PERSISTED: list[tuple[int, DataFrame]] = []


def _persisted_doc_sizes(rel: DataFrame, id_col: str) -> DataFrame:
    return _persist_one_slot(
        rel.groupBy(id_col).agg(F.min("sz").alias("sz")), _SZ_PERSISTED
    )


#: identity fast path over the one-slot persist: when the SAME input
#: DataFrame object comes back with the same args (input handles are
#: memoized upstream), skip _persist_one_slot's per-call JVM
#: analyzed()/semanticHash()/sameResult() round trips (~0.1 s of pure
#: compile latency per query). The cached value holds a strong ref to
#: the input df so its id() cannot be recycled.
_SH_ARGS_CACHE: dict = {}
#: same identity fast path for the assembled overlap_pair_stats plan
_OPS_CACHE: dict = {}
#: eager scalars of the persisted shingle relation (the id bounds, the
#: min effective doc size per max_shingle_df), kept beside the relation
#: they were read from: [(rel, {key: value})]. Keyed on the relation,
#: not on the caller's threshold, so plans for alternating thresholds
#: rebuild without re-running the scalar jobs.
_REL_SCALARS: list = []


def _rel_scalar(rel: DataFrame, key, compute):
    """``compute()``, memoized per persisted shingle relation ``rel``."""
    if not _REL_SCALARS or _REL_SCALARS[0][0] is not rel:
        _REL_SCALARS[:] = [(rel, {})]
    memo = _REL_SCALARS[0][1]
    if key not in memo:
        memo[key] = compute()
    return memo[key]


def _hashed_shingle_relation(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, unit: str,
) -> DataFrame:
    """The shared persisted inverted-index base for the pair operators:
    xxhash64'd shingles, REPARTITIONED BY the shingle hash before the
    persist — the self-join (a.sh = b.sh) and the document-frequency
    aggregates then read co-partitioned cached data with ZERO exchange;
    only the per-pair groupBy still shuffles. At sf1 this removed three
    2.6M-row exchanges per pass from ngram_jaccard/containment.

    Each row also carries `sz` = the doc's TOTAL distinct-shingle count
    (computed inside the build aggregation, amortized into the one-time
    persist): overlap_pair_stats re-attaches sizes to the pair counts
    from the small per-doc persist (_persisted_doc_sizes) instead of
    re-aggregating them per pass (r8: the per-pass sizes groupBy + two
    broadcast joins were ~25% of the pair time; r9 moved the attach
    AFTER the pair aggregation so the pair exchange ships keys+count
    only)."""
    key = (id(df), text_col, id_col, shingle_n, unit)
    hit = _SH_ARGS_CACHE.get(key)
    if (
        hit is not None
        and hit[0] is df
        and _SH_PERSISTED
        and _SH_PERSISTED[0][1] is hit[1]
    ):
        return hit[1]
    # per-doc distinct + sz in ONE aggregation (r9, guide §2.4): the
    # raw shingles collect into a per-doc SET (map-side partials dedup
    # like the old distinct did), sz falls out as size() in-row, and
    # the set explodes back to rows — replacing the old
    # distinct-exchange + Window.partitionBy(id) exchange + sort with
    # one groupBy(id) exchange. Distinctness is now on the 8-byte hash
    # instead of the shingle string (same rows up to the ~2^-64
    # collision the hashed keys already accept).
    sh0 = _exploded_shingles(
        df, text_col, id_col, shingle_n, distinct=False, unit=unit
    ).select(id_col, F.xxhash64("sh").alias("sh"))
    rel = _persisted_shingles(
        sh0.groupBy(id_col)
        .agg(F.collect_set("sh").alias("_shs"))
        .select(
            id_col,
            F.explode("_shs").alias("sh"),
            # long like the Window count it replaces — sz reaches the
            # declared output schema via sze/min(), so the dtype is
            # contract, not style
            F.size("_shs").cast("long").alias("sz"),
        )
        .repartition("sh")
        # sorted-by-sh persist (r9, guide §3.2): InMemoryRelation
        # preserves the child's output ordering, so the pair self-join's
        # SortMergeJoin reads BOTH sides pre-sorted and its two per-pass
        # Sort nodes over the full relation (2×2.6M rows at sf1) become
        # no-ops — the sort is paid ONCE at persist build, like the
        # partitioning. At sf0.1 the join broadcasts instead and the
        # ordering is simply unused.
        .sortWithinPartitions("sh")
    )
    _SH_ARGS_CACHE.clear()
    _SH_ARGS_CACHE[key] = (df, rel)
    return rel


def overlap_pair_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, max_shingle_df: int = 10000, unit: str = "word",
    min_overlap_frac: float | None = None,
) -> DataFrame:
    """(id_a < id_b, common, sz_a, sz_b) for every candidate pair that
    shares ≥1 non-hot shingle — the SHARED base of ngram_jaccard_pairs
    and containment_pairs: one inverted-index self-join + one pair
    groupBy, from which every overlap measure (Jaccard, containment,
    overlap coefficient) is a per-row projection. Running two measures
    over a corpus costs ONE pair pass, not two.

    The raw shingle relation is persisted (one-slot cache, xxhash64'd
    8-byte keys, repartitioned by shingle hash before the persist): the
    hot-shingle aggregate reads it once and the anti-joined consumers
    (both self-join sides + sizes) re-traverse it with zero exchange
    and no window re-shingling.

    `min_overlap_frac` (optional): when the CALLER will only keep pairs
    whose overlap measure is ≥ t for some measure of the form
    common / D with denominator D ≥ every doc's effective size
    (Jaccard: D = union ≥ max(sz_a, sz_b); containment / overlap
    coefficient: D = one side's size), pass t here and pairs that
    cannot reach it are dropped right after the pair aggregation:
    common ≤ min(sz_a, sz_b) and D ≥ m (the corpus-wide min effective
    size, one cached scalar), so round(common/D, 6) ≥ t implies
    common ≥ (t − 1e-6)·m. The pre-filter is strictly implied by the
    caller's own predicate — results are identical — but the (usually
    ~all) pairs with tiny overlap never reach the size-attach joins.

    The assembled pair-stats PLAN is identity-cached per (input df,
    args) — building the hot/anti/self-join/size tree is ~0.2 s of
    py4j round trips, pure per-query compile latency; the returned
    DataFrame is lazy, every action still computes from the inputs."""
    key = (id(df), text_col, id_col, shingle_n, max_shingle_df, unit,
           min_overlap_frac)
    hit = _OPS_CACHE.get(key)
    if (
        hit is not None
        and hit[0] is df
        and _SH_PERSISTED
        and _SH_PERSISTED[0][1] is hit[1]
    ):
        return hit[2]
    rel = _hashed_shingle_relation(df, text_col, id_col, shingle_n, unit)
    hot = rel.groupBy("sh").agg(F.count(F.lit(1)).alias("df_cnt")).filter(
        F.col("df_cnt") > max_shingle_df
    ).select("sh")
    # the pair stream carries ONLY (id, sh) — the r8 design threaded
    # per-doc sizes THROUGH the self-join as row columns, which shipped
    # two extra longs through the heaviest exchange and paid two min()
    # buffers per pair group plus two broadcast joins on the 2.6M-row
    # pair-input sides. Sizes are per-doc CONSTANTS, so they re-attach
    # AFTER the pair aggregation instead: the per-doc (id, sz) relation
    # is a one-slot persist (~1 row/doc, built once per corpus), the
    # hot-shingle correction (at most one row per doc that HAS a hot
    # shingle — usually empty) broadcasts onto it, and the pair counts
    # join the result twice as tiny broadcasts. A/B at sf1: pair
    # exchange 202 -> 111 MB, map-stage CPU -20% (OPTIMIZATION_r09.md).
    keys = rel.join(F.broadcast(hot), "sh", "left_anti").select(id_col, "sh")
    hot_per_doc = rel.join(F.broadcast(hot), "sh").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("hot_cnt")
    )
    doc_sze = _persisted_doc_sizes(rel, id_col).join(
        F.broadcast(hot_per_doc), id_col, "left"
    ).select(
        id_col,
        (F.col("sz") - F.coalesce(F.col("hot_cnt"), F.lit(0))).alias("sze"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    joined = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        "inner",
    )
    aggs = [F.count(F.lit(1)).alias("common")]
    # min-common pre-filter (see docstring): computed at plan build,
    # m kept with the persisted relation (_rel_scalar). m = 0 (a doc of
    # only hot shingles) or an empty corpus disables it — the bound
    # degenerates to common ≥ 0.
    # common is an integral count, so common ≥ x ⇔ common ≥ ⌈x⌉: the
    # bound is compared as a long, with no per-pair-row cast to double
    pre_common = None
    if min_overlap_frac is not None and min_overlap_frac > 0:
        m = _rel_scalar(
            rel, ("min_sze", max_shingle_df),
            lambda: doc_sze.select(F.min("sze")).first()[0],
        )
        if m is not None and m > 0:
            pre_common = math.ceil((float(min_overlap_frac) - 1e-6) * float(m))

    def _attach_sizes(counts):
        if pre_common is not None:
            counts = counts.filter(F.col("common") >= F.lit(pre_common).cast("long"))
        sa = F.broadcast(doc_sze.select(
            F.col(id_col).alias("id_a"), F.col("sze").alias("sz_a")
        ))
        sb = F.broadcast(doc_sze.select(
            F.col(id_col).alias("id_b"), F.col("sze").alias("sz_b")
        ))
        return counts.join(sa, "id_a").join(sb, "id_b").select(
            "id_a", "id_b", "common", "sz_a", "sz_b"
        )
    # guarded pair-key packing (guide §2.3 — narrower shuffle keys):
    # when every id provably fits 31 bits (one cheap aggregate over the
    # PERSISTED relation, computed once per corpus and kept with it by
    # _rel_scalar), the pair groupBy keys on ONE packed
    # long instead of two — 8 fewer key bytes and one hash/compare per
    # pair row through the heaviest exchange of the query. Unpacking
    # restores the exact (id_a, id_b) columns, cast to the input id
    # dtype, so the output is bit-identical; ids outside [0, 2^31)
    # keep the two-column key (a library must not assume 32-bit ids).
    bounds = _rel_scalar(rel, ("id_bounds", id_col), lambda: rel.select(
        F.min(id_col).alias("mn"), F.max(id_col).alias("mx")
    ).first())
    id_dt = dict(rel.dtypes)[id_col]
    if (
        bounds.mn is not None
        and bounds.mn >= 0
        and bounds.mx < (1 << 31)
        and id_dt in ("int", "bigint", "smallint", "tinyint")
    ):
        pk = F.shiftleft(F.col(f"a.{id_col}").cast("long"), 32).bitwiseOR(
            F.col(f"b.{id_col}").cast("long")
        )
        stats = _attach_sizes(
            joined.groupBy(pk.alias("_pk"))
            .agg(*aggs)
            .select(
                F.shiftright(F.col("_pk"), 32).cast(id_dt).alias("id_a"),
                F.col("_pk").bitwiseAND(F.lit(0xFFFFFFFF)).cast(id_dt).alias("id_b"),
                "common",
            )
        )
    else:
        stats = _attach_sizes(joined.groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        ).agg(*aggs))
    # slot-guarded: the cache entry is valid only while `rel` is still
    # the one-slot persisted occupant (see the hit check above)
    _OPS_CACHE.clear()
    _OPS_CACHE[key] = (df, rel, stats)
    return stats


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.5, max_shingle_df: int = 10000,
    unit: str = "word",
) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted-index join (no cross
    join; `max_shingle_df` drops degenerate hot shingles to bound skew).
    unit='char' switches to codepoint n-grams (use shingle_n≈5) for
    unsegmented scripts — same plan shape, same pair-mass budget."""
    return (
        overlap_pair_stats(
            df, text_col, id_col, shingle_n, max_shingle_df, unit,
            min_overlap_frac=threshold,  # union ≥ max size ⟹ sound pre-filter
        )
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_jaccard(
    df: DataFrame, cand: DataFrame, text_col: str, id_col: str,
    shingle_n: int, threshold: float,
) -> DataFrame:
    sh = df.select(
        F.col(id_col).alias("vid_"), tokens(normalize(F.col(text_col))).alias("_toks")
    ).select("vid_", shingles_from_tokens(F.col("_toks"), shingle_n).alias("shs"))
    j = (
        cand.join(sh.select(F.col("vid_").alias("id_a"), F.col("shs").alias("sa")), "id_a")
        .join(sh.select(F.col("vid_").alias("id_b"), F.col("shs").alias("sb")), "id_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.size("sa") + F.size("sb") - F.col("common")),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def neardup_keep_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, kept) — arrival-order LSH near-dedup: a doc is kept iff
    NO earlier doc (smaller id = earlier arrival) claimed any of its
    band buckets. The batch twin of streaming.neardup — identical
    semantics when docs stream in id order, and the DuckDB-oracle-able
    definition of "first-seen wins".

    Scale: one groupBy over the bucket relation (first owner per
    bucket) + one groupBy per doc — two key-bounded shuffles, no pair
    join at all (this is the *decision* operator; pair evidence is
    minhash_lsh_pairs).
    """
    buckets = band_buckets(df, text_col, id_col, num_hashes, bands, shingle_n)
    first = buckets.groupBy("b", "h").agg(F.min(id_col).alias("_owner"))
    earliest = (
        buckets.join(first, ["b", "h"], "inner")
        .groupBy(id_col)
        .agg(F.min("_owner").alias("_first"))
    )
    return (
        df.select(F.col(id_col))
        .join(earliest, id_col, "left")
        .select(
            F.col(id_col),
            (F.coalesce("_first", F.col(id_col)) == F.col(id_col)).alias("kept"),
        )
    )


def dedup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.5, max_iter: int = 10,
) -> DataFrame:
    """Near-duplicate CLUSTERS: (doc_id, cluster_id, is_canonical).

    Connected components over the verified banded-LSH pair graph
    (minhash_lsh_pairs — bucketed candidates, never all-pairs);
    cluster_id = smallest doc_id in the component (the canonical doc a
    curation pipeline keeps), singletons are their own cluster. This is
    the operator that turns pairwise near-dup evidence into the actual
    keep/drop decision — transitive closure matters because A~B and B~C
    must collapse to ONE kept doc even when A~C is below threshold.

    Scale: the CC loop runs only over docs appearing in ≥1 pair (a small
    minority of a real corpus); each superstep is one join + one groupBy
    shuffle, min-label propagation converges in O(log n) rounds; the
    pair list is materialized once (localCheckpoint) so supersteps don't
    recompute the LSH join.
    """
    pairs = (
        minhash_lsh_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_n, threshold
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    fwd = pairs.select(F.col("id_a").alias("_s"), F.col("id_b").alias("_d"))
    adj = fwd.unionByName(
        pairs.select(F.col("id_b").alias("_s"), F.col("id_a").alias("_d"))
    )
    labels = (
        adj.select(F.col("_s").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    for i in range(max_iter):
        msgs = (
            labels.alias("l")
            .join(adj.alias("a"), F.col("l.id") == F.col("a._s"), "inner")
            .select(F.col("a._d").alias("id"), F.col("l.component").alias("component"))
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        if (i + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        labels = new_labels
        if changed.isEmpty():
            break
    return (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias(
                "is_canonical"
            ),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """(id, simhash) — sign-aggregated token-hash fingerprint.

    bit_j = 1 iff sum over distinct tokens of (2*bit_j(md5int(tok)) - 1) > 0.
    32 bits keeps the JVM expression tree reasonable; near-dup = small
    Hamming distance (use bit_count(xor(...)) downstream)."""
    tok = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(normalize(F.col(text_col))))).alias("t"),
    ).select(id_col, _md5_int(F.col("t")).alias("h"))
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sim.alias("simhash"))


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_df: int = 2,
) -> DataFrame:
    """Cross-corpus LINE-level dedup (C4/CCNet-style boilerplate strip):
    drop every line whose normalized form (lower+trim) appears in
    >= max_df distinct documents, reassemble the surviving lines in
    their original order. Returns (id, text, n_lines, n_kept) — text is
    '' when every line was boilerplate.

    Scale: the TEXT PAYLOAD never moves — only normalized-line keys do
    (the "shuffle keys, not payloads" rule). Per doc, the distinct
    non-empty normalized lines explode (already unique per doc, so the
    countDistinct is ONE plain groupBy(norm) count with map-side partial
    aggregation, not the two-exchange distinct-aggregate rewrite); the
    hot relation semi-joins back to (doc, hot-norm) pairs — a relation
    bounded by hot-line OCCURRENCES, tiny next to the line stream — and
    one groupBy(id) collects each doc's own hot set, which re-attaches
    to the source rows (AQE broadcasts it at sane scale; a pathological
    all-hot corpus falls back to a shuffle join of keys, still never of
    text). Line filtering + reassembly + counts are then per-row array
    work at scan speed: no line-level shuffle, no window, no global
    sort. The previous form shuffled EVERY (pos, line) row through a
    groupBy(id) to reassemble text — at 100 TB that is a full-payload
    exchange; this form ships a few bytes of key per hot occurrence.
    Blank lines are never counted as boilerplate (kept verbatim).
    """
    lines_arr = F.split(F.col(text_col), "\n")
    norm = lambda s: F.lower(F.trim(s))  # noqa: E731
    doc_norms = F.array_distinct(
        F.filter(F.transform(lines_arr, norm), lambda s: F.length(s) > 0)
    )
    hot = (
        df.select(F.col(id_col), F.explode(doc_norms).alias("norm"))
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= max_df)
        .select("norm")
    )
    # (doc, hot-norm) occurrences -> one small array of hot norms per doc
    doc_hot = (
        df.select(F.col(id_col), F.explode(doc_norms).alias("norm"))
        .join(hot, "norm", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("norm").alias("_hot"))
    )
    kept_arr = F.filter(
        lines_arr, lambda s: ~F.array_contains(F.col("_hot"), norm(s))
    )
    return (
        df.join(doc_hot, id_col, "left")
        .withColumn("_hot", F.coalesce("_hot", F.array().cast("array<string>")))
        .select(
            F.col(id_col),
            F.concat_ws("\n", kept_arr).alias("_text_kept"),
            F.size(lines_arr).cast("long").alias("n_lines"),
            F.size(kept_arr).cast("long").alias("n_kept"),
        )
        .withColumnRenamed("_text_kept", text_col)
    )


def dedup_against(
    corpus: DataFrame, batch: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", num_hashes: int = 16, bands: int = 4,
    shingle_n: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dedup of a NEW batch against an EXISTING corpus
    (the "don't re-ingest what we already have" op): returns the batch
    with `is_new` (no exact or near dup in the corpus) and, for dups,
    the matched corpus id + jaccard. This is the batch twin of the
    streaming LSH near-dedup's bucket-store probe.

    Scale: the corpus side reduces to its (band, hash) bucket relation
    — in production a PERSISTED table appended per ingest, so each new
    batch probes an index instead of re-shingling history. Candidates =
    batch buckets ⋈ corpus buckets (bucket equi-join, never all-pairs);
    exact-Jaccard verify touches candidates only; exact dups
    short-circuit on the content fingerprint before any shingling."""
    from grasper_spark.functions.text import fingerprint

    cfp = corpus.select(
        F.col(id_col).alias("corpus_id"),
        fingerprint(F.col(text_col)).alias("_fp"),
    )
    bfp = batch.select(
        F.col(id_col), F.col(text_col), fingerprint(F.col(text_col)).alias("_fp")
    )
    exact = (
        bfp.join(cfp, "_fp", "inner")
        .groupBy(id_col)
        .agg(F.min("corpus_id").alias("dup_of"))
        .withColumn("jaccard", F.lit(1.0))
    )
    remaining = bfp.join(cfp.select("_fp"), "_fp", "left_anti").drop("_fp")
    cb = band_buckets(corpus, text_col, id_col, num_hashes, bands, shingle_n)
    bb = band_buckets(remaining, text_col, id_col, num_hashes, bands, shingle_n)
    cand = (
        bb.alias("n").join(
            cb.alias("o"),
            (F.col("n.b") == F.col("o.b")) & (F.col("n.h") == F.col("o.h")),
            "inner",
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"o.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    both = batch.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    near = (
        _verify_jaccard(both, cand, text_col, id_col, shingle_n, threshold)
        .groupBy(F.col("id_a").alias(id_col))
        # deterministic best-match: highest jaccard, ties to the larger
        # corpus id (struct max — max_by would pick arbitrarily on ties)
        .agg(F.max(F.struct("jaccard", "id_b")).alias("_m"))
        .select(id_col, F.col("_m.id_b").alias("dup_of"),
                F.col("_m.jaccard").alias("jaccard"))
    )
    dups = exact.unionByName(near)
    return (
        batch.select(id_col, text_col)
        .join(dups, id_col, "left")
        .select(
            id_col,
            F.col("dup_of").isNull().alias("is_new"),
            "dup_of",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def intra_doc_line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document repeated-line removal (the MassiveText/Gopher
    intra-doc half of line dedup; `line_dedup` is the cross-corpus
    half): keep the FIRST occurrence of each normalized (lower+trim)
    line per document, blank lines kept verbatim. Returns
    (id, text, n_lines, n_kept).

    Scale: ZERO shuffle — pure per-row array work (split → first-
    occurrence filter → join), so it runs at scan speed and composes
    into any pipeline stage. Per-row cost is O(lines²) via
    array_position; documents have tens-to-hundreds of lines, so the
    quadratic term is noise next to the scan."""
    # the source column is renamed before the output reuses `text_col`:
    # with input and output sharing a name in ONE select, Spark resolves
    # the nested lambda's column reference against the new aliased
    # column for some sibling expressions (observed: n_kept counted the
    # already-deduped text) — a silent wrong answer, not an error
    src = df.select(F.col(id_col), F.col(text_col).alias("_intra_src"))
    lines = F.split(F.col("_intra_src"), "\n")
    norms = F.transform(lines, lambda ln: F.lower(F.trim(ln)))
    kept = F.filter(
        lines,
        lambda ln, i: (F.length(F.trim(ln)) == 0)
        | (F.array_position(norms, F.lower(F.trim(ln))) == i + F.lit(1)),
    )
    return src.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def containment_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.8, max_shingle_df: int = 10000,
    unit: str = "word",
) -> DataFrame:
    """ASYMMETRIC near-dup: (id_a, id_b, containment) where containment
    = |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold — "a is
    (mostly) contained in b". Catches the partial duplicates symmetric
    Jaccard misses: a short article quoted inside a long page scores
    near 1.0 here but low Jaccard (the union is dominated by the long
    side). Both directions are emitted independently.

    Scale: identical shape to ngram_jaccard_pairs — built on the same
    overlap_pair_stats base (persisted inverted-index self-join with
    the hot-shingle cap); only the final normalization differs (divide
    by ONE side's size). |a ∩ b| is symmetric, so the self-join runs
    once on a < b and mirrors — half the pair traffic of an a != b
    join."""
    half = overlap_pair_stats(
        df, text_col, id_col, shingle_n, max_shingle_df, unit,
        min_overlap_frac=threshold,  # denominator = one side's size ≥ m
    )
    # emit both directions from ONE join tree (explode of two structs —
    # a union of mirrored selects would re-run the join+agg subtree)
    both = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"), F.col("id_b"),
                    F.round(F.col("common") / F.col("sz_a"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"),
                    F.round(F.col("common") / F.col("sz_b"), 6).alias("containment"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return both.filter(F.col("containment") >= threshold)


def simhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 32, bands: int = 4, max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming ≤ max_hamming).
    Candidates come from banded prefix collisions — two hashes within
    Hamming distance d < bands must agree EXACTLY on at least one of the
    `bands` bit-slices (pigeonhole), so the candidate join is a bucket
    equi-join like MinHash-LSH, never all-pairs; the exact popcount
    verify runs on candidates only. Requires max_hamming < bands for the
    pigeonhole guarantee."""
    if max_hamming >= bands:
        raise ValueError("simhash_pairs: need max_hamming < bands (pigeonhole)")
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(df, text_col, id_col, bits)
    slices = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("b"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask)).alias("h"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.b", "bk.h")
    a, b = slices.alias("a"), slices.alias("b")
    cand = (
        a.join(b, (F.col("a.b") == F.col("b.b")) & (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def pair_mass_estimate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, unit: str = "word", candidate_caps: tuple = (100, 1000, 10000),
) -> DataFrame:
    """ONE-ROW planning diagnostic for the inverted-index joins: the
    candidate-pair mass Σ df·(df−1)/2 over shingles — the exact number
    of pairs `ngram_jaccard_pairs`/`containment_pairs` will generate —
    plus what each `max_shingle_df` cap would cut it to, and the hottest
    shingle's df. Run this BEFORE a near-dup pass at a new scale: pair
    mass, not row count, is the job's real size (SCALE.md).

    Cost: the same shingle explode the dedup pass itself does + one
    partial-agg groupBy — no joins, no pairs materialized."""
    sh = _exploded_shingles(df, text_col, id_col, shingle_n, unit=unit)
    dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("d"))
    pm = F.col("d") * (F.col("d") - 1) / 2
    aggs = [
        F.count(F.lit(1)).alias("n_shingles"),
        F.max("d").alias("max_df"),
        F.sum(pm).cast("bigint").alias("pair_mass"),
    ]
    for cap in candidate_caps:
        aggs.append(
            F.sum(F.when(F.col("d") <= cap, pm).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"pair_mass_cap{cap}")
        )
    return dfs.agg(*aggs)


# size-1 registry for the positional-gram relation (separate from
# _SH_PERSISTED so a tagged entry using BOTH the shingle inverted index
# and repeated-span grams doesn't thrash one slot mid-query)
_RN_PERSISTED: list = []


def _persisted_grams(g: DataFrame) -> DataFrame:
    return _persist_one_slot(g, _RN_PERSISTED)


def _positional_units(df: DataFrame, text_col: str, id_col: str, unit: str):
    """(id, pos, t) token rows for unit='word' (whitespace tokens of the
    normalized text) or unit='char' (codepoints — the robust setting for
    unsegmented scripts, mirroring _exploded_shingles). The phantom ''
    element split('') yields for empty docs is filtered in both units."""
    if unit == "char":
        units = F.split(normalize(F.col(text_col)), "")
    elif unit == "word":
        units = tokens(normalize(F.col(text_col)))
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    return (
        _spread(df)
        .select(F.col(id_col), F.posexplode(units).alias("pos", "t"))
        .filter(F.col("t") != "")
    )


def _positional_grams(
    df: DataFrame, text_col: str, id_col: str, n: int, unit: str = "word",
) -> DataFrame:
    """(id, pos, k) — every full n-gram with its 0-based start index,
    keyed by xxhash64 of the gram string (8-byte join/agg keys instead
    of ~50-byte strings; identical groups up to a ~2^-64 collision).

    ZERO-SHUFFLE index-explode formulation (same rewrite as
    _exploded_shingles, round-8 optimization): keep the token array in
    the row, explode the gram start-index range — the index IS the
    0-based position — and read the n tokens with try_element_at, all
    in one WholeStageCodegen span. The previous posexplode +
    Window.partitionBy(id) + lead form shuffled every token row through
    a hash exchange just to reassemble neighbors already adjacent in
    the source row. Row parity with the window form: positions are
    contiguous (normalize trims + collapses whitespace, so '' units
    only arise for EMPTY docs — array_remove drops them, matching the
    old t != '' filter); docs with fewer than n tokens emit no rows
    (the lead-null filter's behavior)."""
    if unit == "char":
        units = F.split(normalize(F.col(text_col)), "")
        sep = ""
    elif unit == "word":
        units = tokens(normalize(F.col(text_col)))
        sep = " "
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    base = _spread(df).select(
        F.col(id_col), F.array_remove(units, "").alias("_toks")
    )
    cnt = F.size("_toks")
    idx = F.when(cnt >= n, F.sequence(F.lit(0), cnt - n))
    return base.select(
        F.col(id_col), F.col("_toks"), F.explode(idx).alias("pos")
    ).select(
        id_col,
        "pos",
        F.xxhash64(
            F.concat_ws(
                sep,
                *[F.try_element_at("_toks", F.col("pos") + j + 1)
                  for j in range(n)],
            )
        ).alias("k"),
    )


def repeated_ngram_spans(
    df: DataFrame, n: int = 10, min_count: int = 2,
    text_col: str = "text", id_col: str = "doc_id", unit: str = "word",
) -> DataFrame:
    """Exact repeated-substring spans — the 'remove any long substring
    that appears verbatim more than once in the corpus' dedup from Lee
    et al. 2022 (Deduplicating Training Data Makes Language Models
    Better), re-expressed relationally instead of via a suffix array.

    Returns (id_col, span_start, span_end, n_grams): the MAXIMAL token
    spans covered by n-grams occurring >= min_count times corpus-wide.
    Indices are 0-based over the normalized token stream; span_end is
    exclusive; n_grams counts the seed grams merged into the span.
    unit='char' switches to codepoint n-grams (use n≈30-50) for
    unsegmented scripts (CJK), where whitespace tokenization sees one
    giant token per document — span indices then address codepoints.

    100 TB design: tokenize once (posexplode + lead, codegen, one window
    shuffle by doc); hot grams via ONE partial-agg groupBy on 8-byte
    xxhash64 keys (only distinct-gram partials shuffle); a semi-join
    marks seed positions (AQE broadcasts the hot side when small — the
    common case, duplicated grams are the tail); gaps-and-islands
    windows merge seeds into maximal spans with per-doc state bounded by
    doc length. No all-pairs join anywhere; pair mass never enters the
    plan, unlike Jaccard candidates."""
    from pyspark.sql import Window

    grams = _persisted_grams(_positional_grams(df, text_col, id_col, n, unit))
    hot = (
        grams.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("k")
    )
    seeds = grams.join(hot, "k", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    lagp = F.lag("pos").over(w)
    # intervals [p, p+n) chain-merge while the next seed starts at or
    # before the previous seed's end; seeds ascend, so checking the
    # immediately previous seed is transitive-complete
    flagged = seeds.select(
        id_col, "pos",
        F.when(lagp.isNull() | (F.col("pos") > lagp + n), 1).otherwise(0).alias("_f"),
    )
    isl = flagged.select(
        id_col, "pos",
        F.sum("_f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_isl"),
    )
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .drop("_isl")
    )


def remove_repeated_spans(
    df: DataFrame, spans: DataFrame | None = None, n: int = 10,
    min_count: int = 2, text_col: str = "text", id_col: str = "doc_id",
    unit: str = "word",
) -> DataFrame:
    """Cleaned corpus with every repeated-span token dropped (ALL
    occurrences — the conservative Lee-et-al. policy; keep-one requires
    a global occurrence order, which at corpus scale is an arbitrary
    tiebreak anyway). Returns (id_col, text, n_tokens, n_removed) where
    `text` is the NORMALIZED token stream re-joined (single spaces for
    unit='word', directly for unit='char' — span indices address
    normalized units, so removal must too; a caller-supplied `spans`
    must have been computed with the same unit).

    Plan (in-row rewrite, guide §2.3 "shuffle keys, not payloads" —
    the round-8 line_dedup/shingle family): the token PAYLOAD stays in
    the source row as an array; the spans collapse to one small array
    per doc (the only shuffle is the span rows through that groupBy,
    typically broadcast back by AQE); coverage filtering, reassembly
    and the counts are per-row array work. The previous formulation
    exploded every token row and reassembled text through a
    groupBy(id).collect_list — a full-payload exchange of the corpus
    (plus a second exchange for the totals join), exactly the shape
    round 8 eliminated from line_dedup. Docs with zero surviving
    tokens keep their row with text='' (the caller decides whether to
    drop)."""
    if spans is None:
        spans = repeated_ngram_spans(
            df, n=n, min_count=min_count, text_col=text_col, id_col=id_col,
            unit=unit,
        )
    sep = " " if unit == "word" else ""
    if unit == "char":
        units = F.split(normalize(F.col(text_col)), "")
    elif unit == "word":
        units = tokens(normalize(F.col(text_col)))
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    # array_remove drops the phantom '' element split('') produces for
    # empty docs (positions stay contiguous: normalize trims+collapses
    # whitespace, so '' units only arise for empty docs) — size(_toks)
    # therefore equals the old totals expression (tokens for 'word',
    # codepoints for 'char', 0 for empty)
    base = _spread(df).select(
        F.col(id_col), F.array_remove(units, "").alias("_toks")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = base.join(per_doc, id_col, "left")
    # in-row coverage filter: token index i survives unless some span
    # [start, end) of THIS doc covers it — identical to the old
    # left-anti join of (id, pos) token rows against the span table
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda t, i: ~F.exists(
                "_spans",
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(sep, kept).alias("text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
    )
