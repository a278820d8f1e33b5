"""Benchmark inputs, generated once per checkout and reused.

Everything is derived from fixed seeds: the small base tables (region,
nation and a 5,000-document corpus) come from this file, the scale-0.1
TPC-H tables from ``tools.gen_sf.generate_sf``, the property-graph
snapshot from ``sources.tpch_graph`` + ``sources.sinks`` and the media
payload table from ``functions.multimodal.synthetic_media``. The
fixture directory is keyed on the source of those generators, so
editing any of them regenerates the inputs instead of reusing stale
ones. Build time is reported apart from set-up time."""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import time

from perfbench.core import DATA, ROOT

SF = 0.1
SNAP_PREFIX = "pb_graph"
SNAP_BUCKETS = 16

_GENERATORS = [
    "perfbench/fixtures.py",
    "tools/gen_sf.py",
    "grasper_spark/sources/tpch_graph.py",
    "grasper_spark/sources/sinks.py",
    "grasper_spark/functions/multimodal.py",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_TOPIC = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table stream "
          "merge data join vector customer").split()
_STOP = {
    "en": "the a and of to is in it".split(),
    "de": "der die und das ist nicht mit auf".split(),
    "fr": "le la et les est pas des une".split(),
}


def fixture_dir() -> str:
    h = hashlib.sha256()
    for rel in _GENERATORS:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read())
    return os.path.join(DATA, "fx-" + h.hexdigest()[:12])


def base_documents(n: int = 5000, seed: int = 42) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars): topic words mixed with one
    language's stopwords; every tenth doc is a one-word edit of an
    earlier doc and every fiftieth an exact copy, so the dedup
    operators have real pairs and groups to find."""
    rng = random.Random(seed)
    langs = ["en"] * 6 + ["de"] * 3 + ["fr"]
    sources = ["web", "books", "news", "code"]
    docs: list[tuple] = []
    for i in range(n):
        lang = rng.choice(langs)
        if i % 50 == 7 and i >= 50:
            text = docs[i - 50][1]
        elif i % 10 == 3 and i >= 10:
            words = docs[i - 10][1].split(" ")
            words[rng.randrange(len(words))] = rng.choice(_TOPIC)
            text = " ".join(words)
        else:
            k = rng.randint(8, 90)
            pool = _TOPIC + _STOP[lang] * 2
            words = [rng.choice(pool) for _ in range(k)]
            if rng.random() < 0.2:
                words[0] = words[0].capitalize()
            if rng.random() < 0.1:
                words.append(f"v{rng.randint(1, 99)}.")
            text = " ".join(words)
        docs.append((i, text, lang, rng.choice(sources), len(text)))
    return docs


def _write_base(spark, base: str) -> None:
    spark.createDataFrame(
        [(k, name) for k, name in enumerate(REGIONS)],
        "r_regionkey int, r_name string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/region.parquet")
    spark.createDataFrame(
        [(k, f"NATION_{k}", k % 5) for k in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/nation.parquet")
    spark.createDataFrame(
        base_documents(),
        "doc_id long, text string, lang string, source string, n_chars long",
    ).repartition(4).write.mode("overwrite").parquet(f"{base}/documents.parquet")


def ensure(spark) -> dict:
    """Build the fixtures when missing; returns their paths and the
    build time (0 when they were already there)."""
    from pyspark.sql import functions as F

    fx = fixture_dir()
    paths = {
        "dir": fx,
        "tables": os.path.join(fx, f"sf{SF}"),
        "snapshot": os.path.join(fx, "snapshot"),
        "media": os.path.join(fx, "media.parquet"),
    }
    marker = os.path.join(fx, "_OK")
    if os.path.exists(marker):
        return {**paths, "build_s": 0.0}
    t0 = time.perf_counter()
    for old in glob.glob(os.path.join(DATA, "fx-*")):
        shutil.rmtree(old, ignore_errors=True)
    base = os.path.join(fx, "base")
    os.makedirs(base, exist_ok=True)
    _write_base(spark, base)

    from tools.gen_sf import generate_sf

    generate_sf(spark, paths["tables"], SF, base_sf_dir=base)

    from grasper_spark.graph import PropertyGraph
    from grasper_spark.sources import load_tpch_graph
    from grasper_spark.sources.sinks import write_bucketed_external

    g = load_tpch_graph(spark, paths["tables"])
    # the edge projection is written twice (by src and by dst): compute
    # its lineitem aggregations once
    ck = PropertyGraph(g.vertices, g.edges.localCheckpoint(eager=True), name=g.name)
    # the scale-0.1 layout bench's snapshot gate picks: bucketed edges,
    # plain vertices (their source is below the per-table gate)
    write_bucketed_external(ck, SNAP_PREFIX, paths["snapshot"],
                            buckets=SNAP_BUCKETS, bucket_vertices=False)

    from grasper_spark.functions.multimodal import synthetic_media

    docs = spark.read.parquet(f"{paths['tables']}/documents.parquet")
    synthetic_media(docs.select("doc_id")).withColumn(
        "n_bytes", F.length("payload")
    ).repartition(4).write.mode("overwrite").parquet(paths["media"])
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return {**paths, "build_s": time.perf_counter() - t0}


def attach_graph(spark, fx: dict):
    """Attach the snapshot in this session (the serving set-up path)."""
    from grasper_spark.sources.sinks import attach_bucketed_external

    return attach_bucketed_external(spark, SNAP_PREFIX, fx["snapshot"],
                                    buckets=SNAP_BUCKETS, name="tpch-graph")


def duck(fx: dict):
    """DuckDB connection with one view per fixture table (the oracle)."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(fx["tables"], "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    con.execute(f"CREATE VIEW media AS SELECT * FROM "
                f"read_parquet('{fx['media']}/*.parquet')")
    return con
