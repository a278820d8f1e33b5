"""Round-trip: the reference's native text data → V/E DataFrames must
equal the hand-written modern fixture exactly (FIXTURES.md §3)."""

import os

import pytest
from conftest import MODERN_E, MODERN_V, rows

from grasper_spark import G
from grasper_spark.sources import load_grasper_text

REF_DATA = "/root/reference/data"
if not os.path.isdir(REF_DATA):
    # the same modern graph, checked in (tests/data/README.md)
    REF_DATA = os.path.join(os.path.dirname(__file__), "data", "grasper_modern")


@pytest.fixture(scope="module")
def text_graph(spark):
    if not os.path.isdir(REF_DATA):
        pytest.skip("reference data not available")
    return load_grasper_text(spark, REF_DATA)


def test_vertices_roundtrip(text_graph):
    got = rows(text_graph.vertices)
    assert got == sorted(MODERN_V)


def test_edges_roundtrip(text_graph):
    got = rows(text_graph.edges)
    assert got == sorted(MODERN_E)


def test_schema_types(text_graph):
    types = dict(text_graph.vertices.dtypes)
    assert types["age"] == "int"  # type code 1 (vtx_property_index)
    assert types["name"] == "string"  # type code 4
    assert dict(text_graph.edges.dtypes)["weight"] == "double"  # type code 2


def test_query_on_loaded_graph(text_graph):
    g = G(text_graph)
    got = sorted(g.V().has("name", "marko").out("knows").values("age").to_list())
    assert got == [27, 32]


@pytest.fixture(scope="module")
def collection_graph(spark, tmp_path_factory):
    """Synthetic dir exercising type codes the sample data lacks:
    5 (uint64, utils/tool.hpp:174) and 16|t collections
    (utils/tool.hpp:246-266, tab-joined elements)."""
    root = tmp_path_factory.mktemp("grasper_coll")
    (root / "index").mkdir()
    (root / "vertices").mkdir()
    (root / "vtx_property").mkdir()
    (root / "edge_property").mkdir()
    (root / "index" / "vtx_label").write_text("item\t1\n")
    (root / "index" / "edge_label").write_text("rel\t1\n")
    (root / "index" / "vtx_property_index").write_text(
        "name\t1\t4\nbig\t2\t5\ntags\t3\t20\nscores\t4\t17\n"
    )
    (root / "index" / "edge_property_index").write_text("w\t1\t2\n")
    (root / "vertices" / "part_0").write_text("1\t0\t\t1\t2\n2\t1\t1\t0\t\n")
    (root / "vtx_property" / "part_0").write_text(
        '1\t1\t[1:"a",2:4294967296,3:"x"\t"y",4:1\t2\t3]\n'
        '2\t1\t[1:"b"]\n'
    )
    (root / "edge_property" / "part_0").write_text("1\t2\t1\t[1:0.5]\n")
    return load_grasper_text(spark, str(root))


def test_uint64_and_collection_types(collection_graph):
    types = dict(collection_graph.vertices.dtypes)
    assert types["big"] == "bigint"  # code 5
    assert types["tags"] == "array<string>"  # code 20 = 16|4
    assert types["scores"] == "array<int>"  # code 17 = 16|1
    r = {x["vid"]: x for x in (row.asDict() for row in collection_graph.vertices.collect())}
    assert r[1]["big"] == 4294967296
    assert r[1]["tags"] == ["x", "y"]
    assert r[1]["scores"] == [1, 2, 3]
    assert r[2]["tags"] is None and r[2]["scores"] is None


def test_unknown_type_code_rejected():
    from grasper_spark.sources.grasper_text import _decode_type

    with pytest.raises(ValueError):
        _decode_type(9)
