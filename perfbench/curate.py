"""`curate` workload: training-data operators over the scale-0.1
documents, embeddings and media payloads, one client, closed loop.

Each request calls one operator and collects its result:
``dedup.overlap_pair_stats`` (min-overlap fraction drawn from a small
set, so thresholds alternate), ``dedup.minhash_signature``,
``dedup.line_dedup``, ``curation.curate``,
``similarity.qint_cosine_topk`` (seeded query ids) and
``multimodal.media_decode_features`` (a seeded quarter of the payloads,
decoded in Python workers). It never touches the graph compiler. One
cycle calls each operator once, in the fixed order OPS. A run measures
whole cycles; the first WARMUP requests of the stream's first cycle warm
the session during set-up, and timing starts at the second cycle. The
fixed order gives each operator the same share of the JIT warm-up for
every seed."""

from __future__ import annotations

import random

from perfbench.core import same_multiset

NAME = "curate"
CLIENTS = 1
# the warm-up starts the Python workers; the costliest operator comes
# next and takes the rest of the JIT warm-up, above the median
OPS = ["media_decode_features", "overlap_pair_stats", "minhash_signature",
       "line_dedup", "curate", "qint_cosine_topk"]
CYCLE = len(OPS)
STREAM_CYCLES = 40  # far more than any window uses
WARMUP = 1
OVERLAP_FRACS = [0.2, 0.35, 0.5]
N_EMB = 2000  # scale 0.1
TOPK = 10


def stream(seed: int, n_cycles: int, con=None) -> list[dict]:
    rng = random.Random(f"curate:{seed}")
    out = []
    for _ in range(n_cycles):
        for op in OPS:
            req = {"op": op}
            if op == "overlap_pair_stats":
                req["frac"] = rng.choice(OVERLAP_FRACS)
            elif op == "qint_cosine_topk":
                req["ids"] = sorted(rng.sample(range(N_EMB), 5))
            elif op == "media_decode_features":
                req["part"] = rng.randrange(4)
            out.append(req)
    return out


def stop_at(i: int) -> bool:
    return i % CYCLE == 0


def trace_slice(timed: list[dict]) -> list[dict]:
    """The traced run's requests: the first timed cycle."""
    return timed[:CYCLE]


# ------------------------------------------------------------- execution


def _lines(docs):
    """The ledger's re-segmentation of each doc into 8-token lines
    (the corpus is single-line; near-dup docs then share lines)."""
    from pyspark.sql import functions as F

    from grasper_spark.functions.text import tokens

    t = tokens(F.col("text"))
    n = F.greatest(F.ceil(F.size(t) / F.lit(8.0)).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(t, (i - F.lit(1)) * F.lit(8) + F.lit(1), F.lit(8)), " "),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


def setup(spark, fx, tracer) -> dict:
    from grasper_spark.session import ensure_runtime_confs
    from perfbench.core import cached_bytes

    ensure_runtime_confs(spark)
    tables = fx["tables"]
    with tracer.span("sources.attach"):
        docs = spark.read.parquet(f"{tables}/documents.parquet")
        emb = spark.read.parquet(f"{tables}/embeddings.parquet")
        media = spark.read.parquet(fx["media"]).select("media_id", "payload")
    tracer.count("sources.cached_bytes", cached_bytes(spark))
    return {"spark": spark, "tracer": tracer, "docs": docs, "emb": emb,
            "media": media, "seg": _lines(docs)}


def _op_df(st, req):
    from pyspark.sql import functions as F

    from grasper_spark.functions import curation, dedup, multimodal, similarity

    op = req["op"]
    if op == "overlap_pair_stats":
        stats = dedup.overlap_pair_stats(st["docs"], min_overlap_frac=req["frac"])
        jac = F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6)
        return stats.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= req["frac"])
    if op == "minhash_signature":
        return dedup.minhash_signature(st["docs"]).select("doc_id", "sig")
    if op == "line_dedup":
        return dedup.line_dedup(st["seg"], max_df=2).select(
            "doc_id", "text", "n_lines", "n_kept")
    if op == "curate":
        return curation.curate(st["docs"], min_quality=0.3, languages=("en", "de"))
    if op == "qint_cosine_topk":
        emb = st["emb"]
        q = emb.filter(F.col("vec_id").isin(req["ids"]))
        return similarity.qint_cosine_topk(emb, q, k=TOPK).select(
            "query_id", "neighbor_id", F.col("sim_q").alias("sim"), "rank")
    media = st["media"].filter(F.col("media_id") % 4 == req["part"])
    return multimodal.media_decode_features(media)


def execute(st, i, req) -> dict:
    from perfbench.core import cached_bytes, collect_traced, python_udf_stats

    tr = st["tracer"]
    layer = "udf" if req["op"] == "media_decode_features" else "functions"
    name = "udf.decode" if layer == "udf" else f"functions.{req['op']}"
    with tr.span(name):
        df = _op_df(st, req)
        rows, rec = collect_traced(tr, df)
    rec.update(cols=df.columns, rows=[tuple(r) for r in rows], layer=layer)
    if tr.on:
        tr.counts["functions.cached_bytes"] = max(
            tr.counts["functions.cached_bytes"], cached_bytes(st["spark"]))
        if layer == "udf":
            prow, pbytes = python_udf_stats(df)
            tr.count("udf.python_rows", prow)
            tr.count("udf.python_bytes", pbytes)
    return rec


# ---------------------------------------------------------------- checks


def _oracle_sql(req) -> str:
    """DuckDB SQL for one request, from the ledger's oracle texts."""
    import __spark_entry__ as entry

    op = req["op"]
    if op == "overlap_pair_stats":
        return entry._jaccard_oracle(req["frac"])
    if op == "minhash_signature":
        return entry.oracle_sql()["doc_minhash_sig"]
    if op == "line_dedup":
        sql = entry.oracle_sql()["doc_line_dedup"]
        return f"SELECT doc_id, text, n_lines, n_kept FROM ({sql}) WHERE op = 'cross'"
    if op == "curate":
        return entry.oracle_sql()["doc_curation"]
    sql = entry.oracle_sql()["emb_cosine_topk"]
    old = "FROM qn WHERE vec_id < 5"
    assert old in sql, "emb_cosine_topk oracle changed shape"
    sql = sql.replace(old, f"FROM qn WHERE vec_id IN ({', '.join(map(str, req['ids']))})")
    return sql.replace("rank <= 10", f"rank <= {TOPK}")


def _media_expected(media_ids) -> list[tuple]:
    """Features recomputed from the payload generator's closed forms
    (not through the decoders under test)."""
    import numpy as np

    from grasper_spark.functions.multimodal import (
        WAV_SR, luma_int, synth_bmp_pixels, synth_png_pixels, synth_wav_samples,
    )

    out = []
    for mid in media_ids:
        if mid % 97 == 0:
            out.append(("error", mid, -1, -1, -1, -1))
        elif mid % 2 == 0:
            s = synth_wav_samples(mid).astype(np.int64)
            out.append(("wav", mid, WAV_SR, len(s), int((s * s).sum()),
                        int(np.abs(s).max())))
        else:
            png = mid % 4 == 3
            px = synth_png_pixels(mid) if png else synth_bmp_pixels(mid)
            lu = luma_int(px[..., :3])
            d = int(px[..., 3].astype(np.int64).sum()) if png else int(lu[0, 0])
            out.append(("png" if png else "bmp", mid, px.shape[1], px.shape[0],
                        int(lu.sum()), d))
    return out


def check(con, stream_, records) -> dict[int, str]:
    fails: dict[int, str] = {}
    cache: dict = {}
    for rec in records:
        if rec["error"]:
            fails[rec["i"]] = rec["error"]
            continue
        req = stream_[rec["i"]]
        key = repr(sorted(req.items()))
        if key not in cache:
            if req["op"] == "media_decode_features":
                ids = [r[0] for r in con.execute(
                    f"SELECT media_id FROM media WHERE media_id % 4 = {req['part']}"
                ).fetchall()]
                cache[key] = (None, _media_expected(ids))
            else:
                res = con.execute(_oracle_sql(req))
                cache[key] = ([d[0] for d in res.description], res.fetchall())
        cols, want = cache[key]
        got = rec["rows"]
        if cols is not None:  # align the library's columns to the oracle's
            idx = [rec["cols"].index(c) for c in cols]
            got = [tuple(r[j] for j in idx) for r in got]
        if not same_multiset(got, want):
            fails[rec["i"]] = (f"{req}: {len(got)} rows vs {len(want)} expected,"
                               f" e.g. {got[:1]} vs {want[:1]}")
    return fails
