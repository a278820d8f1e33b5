"""Loader for Grasper's native HDFS text format.

Format spec (Grasper's docs/Tutorial.md:10-42), loaded by Grasper's
storage/data_store.cpp:41-268:

- ``vertices/part_*``:      ``{vid}\\t{num_in}\\t{in1 in2 ..} {num_out}\\t{out1 ..}``
- ``vtx_property/part_*``:  ``{vid}\\t{label_id}\\t[{pid}:{val},...]``
- ``edge_property/part_*``: ``{src_vid}\\t{dst_vid}\\t{label_id}\\t[{pid}:{val},...]``
- ``index/vtx_label`` / ``edge_label``: ``{label_string}\\t{label_id}``
- ``index/vtx_property_index`` / ``edge_property_index``:
  ``{key}\\t{pid}\\t{type_code}`` with type codes 1=int 2=double 3=char
  4=string (Grasper's base/type.hpp:307-313 and
  utils/tool.hpp:159-177).

Note on direction: Tutorial.md's edge_property line is
``{in_vid}\\t{out_vid}``, but in the shipped sample data the first field
is the *source* (out) vertex — `1\\t2\\tknows` matches marko-knows-vadas
in data/graph-example-1.jpg. We read col0=src, col1=dst, which
reproduces the documented modern graph exactly (FIXTURES.md §1).

The adjacency lists in ``vertices/`` are redundant with edge_property
(they agree in the sample data); we derive topology from edge_property
and use ``vertices/`` only for the vid universe, so isolated vertices
still load.

Spark-first: dictionaries and property indexes are tiny driver-side
reads; the bulk files go through spark.read.text with JVM-side parsing
expressions (no Python row loop), so a 100 TB input would still scan in
parallel.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from grasper_spark.graph import PropertyGraph

_TYPE_CODES = {
    1: T.IntegerType(),
    2: T.DoubleType(),
    3: T.StringType(),
    4: T.StringType(),
    # uint64 (utils/tool.hpp:174 checktype returns 5 for ints past 2^32).
    # Spark has no unsigned 64-bit type; LongType covers values < 2^63,
    # which is every value the reference's stoull round-trips into queries.
    5: T.LongType(),
}


def _decode_type(code: int) -> T.DataType:
    """Map a reference type code to a Spark type.

    Scalar codes 1-5 map directly; collection codes are ``16 | t``
    (utils/tool.hpp:246-266 vec2value_t): tab-joined elements of scalar
    type t, modeled as ``array<t>``.
    """
    if code in _TYPE_CODES:
        return _TYPE_CODES[code]
    if code & 16 and (code & ~16) in _TYPE_CODES:
        return T.ArrayType(_TYPE_CODES[code & ~16])
    raise ValueError(f"unknown Grasper property type code: {code}")


def _read_dict(path: str) -> dict[int, str]:
    """label_id -> label_string (files are `{string}\\t{id}`)."""
    out: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            s, i = line.split("\t")
            out[int(i)] = s
    return out


def _read_prop_index(path: str) -> dict[int, tuple[str, T.DataType]]:
    """pid -> (key_name, spark_type)."""
    out: dict[int, tuple[str, T.DataType]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            key, pid, code = line.split("\t")
            out[int(pid)] = (key, _decode_type(int(code)))
    return out


def _props_to_columns(
    df: DataFrame, props_col: str, prop_index: dict[int, tuple[str, T.DataType]]
) -> DataFrame:
    """Melt `[pid:val,pid:val]` strings into one typed column per key.

    Pure Spark expressions (regexp_extract per key) — vectorized, no UDF.
    Values never contain ',' or ':' in the reference format (scalars only,
    strings are names/langs); quoted strings keep their quotes stripped.
    """
    body = F.regexp_replace(F.col(props_col), r"^\[|\]$", "")
    for pid, (key, dtype) in sorted(prop_index.items()):
        if isinstance(dtype, T.ArrayType):
            # Collection (type 16|t, utils/tool.hpp:246-266): elements are
            # tab-joined inside the value (tabs never separate scalars, so
            # grab the whole up-to-comma run), then split + cast per element.
            raw = F.regexp_extract(body, rf"(?:^|,){pid}:([^,]*)", 1)
            raw = F.when(raw == "", None).otherwise(raw)
            elem = dtype.elementType.simpleString()
            arr = F.transform(
                F.split(raw, "\t"),
                lambda e: F.regexp_replace(e, "^[\"']|[\"']$", "").cast(elem),
            )
            df = df.withColumn(key, arr)
            continue
        # value of this pid: after `pid:` up to next `,` or end
        pat = rf"(?:^|,){pid}:((?:\"[^\"]*\")|(?:'[^']*')|[^,]*)"
        raw = F.regexp_extract(body, pat, 1)
        raw = F.when(raw == "", None).otherwise(F.regexp_replace(raw, "^[\"']|[\"']$", ""))
        df = df.withColumn(key, raw.cast(dtype))
    return df.drop(props_col)


def load_grasper_text(spark: SparkSession, data_dir: str) -> PropertyGraph:
    """Load a graph from a Grasper-format directory (e.g. the reference's
    data/ copy of the TinkerPop "modern" graph)."""
    idx = os.path.join(data_dir, "index")
    v_labels = _read_dict(os.path.join(idx, "vtx_label"))
    e_labels = _read_dict(os.path.join(idx, "edge_label"))
    vp_index = _read_prop_index(os.path.join(idx, "vtx_property_index"))
    ep_index = _read_prop_index(os.path.join(idx, "edge_property_index"))

    label_expr: Callable[[dict[int, str], str], F.Column] = lambda d, c: F.element_at(
        F.create_map(*[F.lit(x) for kv in d.items() for x in kv]), F.col(c)
    )

    vp = (
        spark.read.text(os.path.join(data_dir, "vtx_property"))
        # limit=3: collection property values embed tabs (value_t's element
        # separator, utils/tool.hpp:258) — keep them inside the props field.
        .select(F.split("value", "\t", 3).alias("f"))
        .select(
            F.col("f")[0].cast("long").alias("vid"),
            F.col("f")[1].cast("int").alias("label_id"),
            F.col("f")[2].alias("props"),
        )
        .withColumn("label", label_expr(v_labels, "label_id"))
        .drop("label_id")
    )
    vertices = _props_to_columns(vp, "props", vp_index)

    # vid universe from vertices/ (keeps isolated vertices).
    vid_universe = (
        spark.read.text(os.path.join(data_dir, "vertices"))
        .select(F.split("value", "\t")[0].cast("long").alias("vid"))
        .distinct()
    )
    vertices = vid_universe.join(vertices, "vid", "left")

    ep = (
        spark.read.text(os.path.join(data_dir, "edge_property"))
        .select(F.split("value", "\t", 4).alias("f"))
        .select(
            F.col("f")[0].cast("long").alias("src"),
            F.col("f")[1].cast("long").alias("dst"),
            F.col("f")[2].cast("int").alias("label_id"),
            F.col("f")[3].alias("props"),
        )
        .withColumn("label", label_expr(e_labels, "label_id"))
        .drop("label_id")
    )
    edges = _props_to_columns(ep, "props", ep_index)

    order = ["vid", "label"] + [k for _, (k, _) in sorted(vp_index.items())]
    vertices = vertices.select(*order)
    eorder = ["src", "dst", "label"] + [k for _, (k, _) in sorted(ep_index.items())]
    edges = edges.select(*eorder)
    return PropertyGraph(vertices, edges, name=os.path.basename(data_dir.rstrip("/")))
