"""spark.read.format("grasper") — Python DataSource connector over the
reference's native text format (format spec docs/Tutorial.md:10-42)."""

import os

import pytest
from pyspark.sql import functions as F

DATA = "/root/reference/data"
if not os.path.isdir(DATA):
    # the same modern graph, checked in (tests/data/README.md)
    DATA = os.path.join(os.path.dirname(__file__), "data", "grasper_modern")


@pytest.fixture(scope="module")
def gsource(spark):
    from grasper_spark.sources.grasper_datasource import register

    register(spark)
    return spark


def _load(spark, table, path=DATA):
    return (
        spark.read.format("grasper").option("path", path)
        .option("table", table).load()
    )


def test_vertices_and_edges_match_jvm_loader(gsource):
    from grasper_spark.sources import load_grasper_text

    g = load_grasper_text(gsource, DATA)
    ds_v = _load(gsource, "vertices")
    ds_e = _load(gsource, "edges")
    assert sorted(map(tuple, ds_v.collect())) == sorted(
        map(tuple, g.vertices.collect())
    )
    assert sorted(map(tuple, ds_e.collect())) == sorted(map(tuple, g.edges.collect()))


def test_adjacency_agrees_with_edge_table(gsource):
    adj = {
        r.vid: (sorted(r.in_nbs), sorted(r.out_nbs))
        for r in _load(gsource, "adjacency").collect()
    }
    edges = _load(gsource, "edges").collect()
    for vid, (ins, outs) in adj.items():
        assert ins == sorted(r.src for r in edges if r.dst == vid)
        assert outs == sorted(r.dst for r in edges if r.src == vid)


def test_label_filter_pushed_and_correct(gsource):
    e = _load(gsource, "edges")
    k = e.filter(F.col("label") == "knows")
    got = sorted((r.src, r.dst, r.weight) for r in k.collect())
    assert got == [(1, 2, 0.5), (1, 4, 1.0)]
    # the EqualTo was consumed by pushFilters: the post-scan Filter
    # keeps only the isnotnull guard, no label equality
    plan = k._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan grasper" in plan
    assert "= knows" not in plan


def test_unknown_label_scans_empty(gsource):
    e = _load(gsource, "edges")
    assert e.filter(F.col("label") == "nosuch").count() == 0


def test_partitions_one_per_file(gsource):
    # the format's natural split unit: part_* files fan out 1:1 to scan
    # tasks (storage/data_store.cpp:41-106 loads the same file list)
    import os

    nfiles = len(
        [f for f in os.listdir(f"{DATA}/edge_property") if not f.startswith((".", "_"))]
    )
    e = _load(gsource, "edges")
    assert e.rdd.getNumPartitions() == nfiles


def test_roundtrip_through_text_sink(gsource, tmp_path, modern):
    from grasper_spark.sources.sinks import write_grasper_text

    out = str(tmp_path / "modern_txt")
    write_grasper_text(modern, out)
    v = _load(gsource, "vertices", out)
    e = _load(gsource, "edges", out)
    assert v.count() == modern.vertices.count()
    assert sorted((r.src, r.dst, r.label) for r in e.collect()) == sorted(
        (r.src, r.dst, r.label) for r in modern.edges.collect()
    )
    # the sink's vertices/ lines are the adjacency table's input
    edges = modern.edges.collect()
    adj = {
        r.vid: (sorted(r.in_nbs), sorted(r.out_nbs))
        for r in _load(gsource, "adjacency", out).collect()
    }
    assert adj == {
        r.vid: (
            sorted(x.src for x in edges if x.dst == r.vid),
            sorted(x.dst for x in edges if x.src == r.vid),
        )
        for r in modern.vertices.collect()
    }


def test_stream_reader_picks_up_appended_files(gsource, tmp_path):
    # append-only part-file log: a new part file arrives as its own
    # micro-batch; already-seen files are never re-read (offsets track
    # the explicit file set)
    import os
    import shutil

    work = str(tmp_path / "gstream")
    shutil.copytree(DATA, work)
    os.system(f"chmod -R u+w {work}")
    ep = os.path.join(work, "edge_property")
    src = os.path.join(ep, "part_1")
    lines = open(src).read().splitlines(True)
    with open(src, "w") as fh:
        fh.writelines(lines[:3])
    q = (
        gsource.readStream.format("grasper")
        .option("path", work).option("table", "edges").load()
        .writeStream.format("memory").queryName("grasper_stream")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        n1 = gsource.sql("select count(*) c from grasper_stream").collect()[0].c
        assert n1 == 3
        with open(os.path.join(ep, "part_2"), "w") as fh:
            fh.writelines(lines[3:])
        q.processAllAvailable()
        got = sorted(
            (r.src, r.dst, r.label)
            for r in gsource.sql("select * from grasper_stream").collect()
        )
    finally:
        q.stop()
    assert got == [
        (1, 2, "knows"), (1, 3, "created"), (1, 4, "knows"),
        (4, 3, "created"), (4, 5, "created"), (6, 3, "created"),
    ]
