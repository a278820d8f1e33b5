"""Graph sinks: parquet (the scale path) and Grasper's native text
format (round-trip parity with the reference loader,
/root/reference/docs/Tutorial.md:10-42).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from grasper_spark.graph import PropertyGraph


def write_parquet(graph: PropertyGraph, out_dir: str, buckets: int = 0) -> None:
    """Persist V/E as parquet. With buckets>0, also writes bucketed
    copies via saveAsTable so traversal joins co-locate without a
    shuffle (requires a warehouse dir; used on clusters)."""
    graph.vertices.write.mode("overwrite").parquet(os.path.join(out_dir, "vertices"))
    graph.edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    if buckets:
        name = re.sub(r"[^A-Za-z0-9_]", "_", graph.name)
        write_bucketed(graph, name, buckets)


def read_parquet(spark, out_dir: str, name: str = "graph") -> PropertyGraph:
    v = spark.read.parquet(os.path.join(out_dir, "vertices"))
    e = spark.read.parquet(os.path.join(out_dir, "edges"))
    return PropertyGraph(v, e, name=name)


class BucketedPropertyGraph(PropertyGraph):
    """Graph over bucketed tables: V by vid, E by src AND a dst-keyed
    copy — both traversal directions join co-located, no shuffle."""

    def __init__(self, vertices, e_by_src, e_by_dst, name="graph",
                 n_buckets: int = 0):
        super().__init__(vertices, e_by_src, name=name)
        self._e_by_dst = e_by_dst
        #: bucket count of the E tables, recorded by the loader so the
        #: compiler can ALIGN a small join side to it (repartitioning
        #: the small side to exactly n_buckets lets the bucketed edge
        #: scan join in place with zero exchange — see the co-neq
        #: fusion). 0 = unknown.
        self._n_buckets = n_buckets

    def edges_by_dst(self):
        # NOT cached alongside V/E(src): the label-PARTITIONED file
        # scan prunes to the traversed edge type, which an
        # InMemoryRelation cannot (a cached copy holds every label —
        # measured at sf0.1: caching this orientation made g_and ~60%
        # slower by trading per-label pruned scans for full-cache
        # scans). Re-scanning pruned parquet per pass is the cheaper
        # side of that trade, and dst-keyed joins stay exchange-free
        # via the bucket layout when the join side aligns to it.
        return self._e_by_dst


def write_bucketed(graph: PropertyGraph, table_prefix: str, buckets: int = 16) -> None:
    """Persist V/E as bucketed+sorted tables (spark-warehouse). The
    100 TB deployment shape: traversal joins become bucket-local
    sort-merge joins with zero Exchange."""
    spark = graph.spark

    def _clean(table: str) -> None:
        # a previous session's warehouse dir survives while its catalog
        # entry doesn't — saveAsTable then fails LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(wh.removeprefix("file:"), table.lower())
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc)

    for suffix, df, key in [
        ("_v", graph.vertices, "vid"),
        ("_e_src", graph.edges, "src"),
        ("_e_dst", graph.edges, "dst"),
    ]:
        table = f"{table_prefix}{suffix}"
        _clean(table)
        df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(table)


def read_bucketed(spark, table_prefix: str, name: str = "graph",
                  n_buckets: int = 0) -> BucketedPropertyGraph:
    return BucketedPropertyGraph(
        spark.table(f"{table_prefix}_v"),
        spark.table(f"{table_prefix}_e_src"),
        spark.table(f"{table_prefix}_e_dst"),
        name=name,
        n_buckets=n_buckets,
    )


_BUCKET_SPECS = [("_v", "v", "vid"), ("_e_src", "e_src", "src"), ("_e_dst", "e_dst", "dst")]


def write_bucketed_external(
    graph: PropertyGraph,
    table_prefix: str,
    base_dir: str,
    buckets: int = 16,
    bucket_vertices: bool = True,
    partition_edges_by_label: bool = True,
) -> None:
    """Persist V + both E orientations as EXTERNAL bucketed tables under
    `base_dir` — the deployment shape: data outlives any one session and
    re-attaches via :func:`attach_bucketed_external`.

    ``bucket_vertices=False`` is the PER-TABLE gate: a small vertex
    table is written as plain parquet instead (one file-scan task, no
    per-bucket overhead). Traversal joins keep their zero-exchange edge
    side — the vertex side of those joins is the filtered/small side
    that AQE broadcasts anyway, so bucketing V below the gate only
    taxes tiny queries. A 100 TB deployment applies the same rule per
    table: bucket the fact-scale tables, keep dimensions plain.

    ``partition_edges_by_label`` additionally PARTITIONS the edge
    tables by edge label: an `out('supplies')`-style traversal (a label
    equality on the scan) then prunes to its edge type's directory
    instead of scanning every edge — the graph-store analogue of
    per-edge-type storage, and at 100 TB the difference between
    scanning one relation and scanning the whole edge set. Bucketing is
    table-wide, so the pruned scan keeps its co-located join layout."""
    spark = graph.spark
    ddls = {}
    for suffix, sub, key in _BUCKET_SPECS:
        table = f"{table_prefix}{suffix}"
        path = os.path.join(base_dir, sub)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        df = graph.vertices if key == "vid" else graph.edges
        if key == "vid" and not bucket_vertices:
            df.write.mode("overwrite").parquet(os.path.join(base_dir, "v_plain"))
            ddls["_v_plain"] = True
            continue
        writer = df.write.mode("overwrite").option("path", path)
        if key != "vid" and partition_edges_by_label:
            writer = writer.partitionBy("label")
            ddls["_e_label_part"] = True
        writer.bucketBy(buckets, key).sortBy(key).saveAsTable(table)
        # record the TABLE's schema (partition column last, matching the
        # saveAsTable layout) so the attach DDL reproduces it exactly
        ddls[sub] = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.table(table).schema.fields
        )
    # persist the column DDL so attach skips three parquet-footer schema
    # reads per session (the dominant cost of a warm re-attach); the
    # bucket count rides along so attach always matches the layout
    ddls["_buckets"] = buckets
    with open(os.path.join(base_dir, "_SCHEMAS.json"), "w") as fh:
        json.dump(ddls, fh)


def attach_bucketed_external(
    spark, table_prefix: str, base_dir: str, buckets: int = 16, name: str = "graph"
) -> BucketedPropertyGraph:
    """Register existing bucketed parquet dirs in THIS session's catalog
    (in-memory catalogs don't survive session restarts) and return the
    bucketed graph. Traversal joins on vid/src/dst then skip the build-
    side Exchange entirely (zero-exchange when both sides are bucketed)."""
    ddls = {}
    sfile = os.path.join(base_dir, "_SCHEMAS.json")
    if os.path.exists(sfile):
        with open(sfile) as fh:
            ddls = json.load(fh)
    buckets = int(ddls.get("_buckets", buckets))
    v_plain = bool(ddls.get("_v_plain")) and os.path.isdir(
        os.path.join(base_dir, "v_plain")
    )
    label_part = bool(ddls.get("_e_label_part"))
    for suffix, sub, key in _BUCKET_SPECS:
        if key == "vid" and v_plain:
            continue  # vertices below the per-table gate: plain parquet
        table = f"{table_prefix}{suffix}"
        path = os.path.join(base_dir, sub)
        if spark.catalog.tableExists(table):
            continue
        cols = ddls.get(sub)
        if cols is None:  # pre-_SCHEMAS snapshot: fall back to a footer read
            schema = spark.read.parquet(path).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            ddls[sub] = cols
            try:  # upgrade the snapshot in place for the next session
                with open(sfile, "w") as fh:
                    json.dump(ddls, fh)
            except OSError:
                pass
        part = (
            "PARTITIONED BY (label) " if label_part and key != "vid" else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET {part}"
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
        if part:
            # DDL-attached partitioned tables start with an empty
            # partition catalog — discover the label directories
            spark.sql(f"MSCK REPAIR TABLE {table}")
    if v_plain:
        return BucketedPropertyGraph(
            spark.read.parquet(os.path.join(base_dir, "v_plain")),
            spark.table(f"{table_prefix}_e_src"),
            spark.table(f"{table_prefix}_e_dst"),
            name=name,
            n_buckets=buckets,
        )
    return read_bucketed(spark, table_prefix, name=name, n_buckets=buckets)


def _write_text_parts(lines, dest: str) -> None:
    """Distributed text write into the reference's `part_N` layout: the
    line DataFrame writes per-partition files through the normal
    parquet-grade committer (no driver collect), then the committed
    part files are renamed to the reference's names — renames are O(#
    files) metadata ops on the storage layer."""
    import shutil

    tmp = dest + ".__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    lines.write.mode("overwrite").text(tmp)
    os.makedirs(dest, exist_ok=True)
    n = 0
    for fn in sorted(os.listdir(tmp)):
        if fn.startswith("part-"):
            n += 1
            shutil.move(os.path.join(tmp, fn), os.path.join(dest, f"part_{n}"))
    shutil.rmtree(tmp, ignore_errors=True)


def write_grasper_text(graph: PropertyGraph, out_dir: str) -> None:
    """Write the reference's native text format (inverse of
    sources/grasper_text.py) — proves data-model round-trip parity.

    Distributed like the reference's own layout: the format is
    per-partition ``part_*`` files (docs/Tutorial.md:10-42, loaded by
    storage/data_store.cpp:41-268), so each table's lines are built as
    JVM string expressions and written partition-parallel — no
    driver-side collect anywhere in the bulk path. Only the tiny
    dictionaries (labels, property indexes — bounded by schema, not
    data) are driver-side.

    Property values use the reference's literal syntax (strings quoted,
    type codes from Spark column types)."""
    os.makedirs(os.path.join(out_dir, "index"), exist_ok=True)

    v_labels = [r[0] for r in graph.vertices.select("label").distinct().orderBy("label").collect()]
    e_labels = [r[0] for r in graph.edges.select("label").distinct().orderBy("label").collect()]
    v_label_id = {s: i + 1 for i, s in enumerate(v_labels)}
    e_label_id = {s: i + 1 for i, s in enumerate(e_labels)}

    def _type_code(spark_type: str) -> int:
        if spark_type in ("int", "smallint", "tinyint", "bigint"):
            return 1
        if spark_type in ("double", "float"):
            return 2
        return 4

    vp = {k: (i + 1, _type_code(t)) for i, (k, t) in enumerate(graph.vertex_keys.items())}
    ep = {k: (i + 1, _type_code(t)) for i, (k, t) in enumerate(graph.edge_keys.items())}

    with open(os.path.join(out_dir, "index", "vtx_label"), "w") as f:
        for s, i in v_label_id.items():
            f.write(f"{s}\t{i}\n")
    with open(os.path.join(out_dir, "index", "edge_label"), "w") as f:
        for s, i in e_label_id.items():
            f.write(f"{s}\t{i}\n")
    with open(os.path.join(out_dir, "index", "vtx_property_index"), "w") as f:
        for k, (pid, tc) in vp.items():
            f.write(f"{k}\t{pid}\t{tc}\n")
    with open(os.path.join(out_dir, "index", "edge_property_index"), "w") as f:
        for k, (pid, tc) in ep.items():
            f.write(f"{k}\t{pid}\t{tc}\n")

    def _props_expr(idx: dict) -> F.Column:
        """`[pid:val,...]` rendered per row, nulls skipped — pure string
        expressions, codegen'd."""
        parts = []
        for k, (pid, tc) in idx.items():
            if tc == 1:
                val = F.col(k).cast("long").cast("string")
            elif tc == 2:
                val = F.col(k).cast("double").cast("string")
            else:
                val = F.concat(F.lit('"'), F.col(k).cast("string"), F.lit('"'))
            parts.append(
                F.when(F.col(k).isNotNull(), F.concat(F.lit(f"{pid}:"), val))
            )
        inner = (
            F.array_join(F.array_compact(F.array(*parts)), ",")
            if parts
            else F.lit("")
        )
        return F.concat(F.lit("["), inner, F.lit("]"))

    def _label_map(mapping: dict) -> F.Column:
        return F.create_map(
            *[F.lit(x) for pair in mapping.items() for x in pair]
        )[F.col("label")].cast("string")

    tab = F.lit("\t")
    _write_text_parts(
        graph.vertices.select(
            F.concat(
                F.col("vid").cast("string"), tab, _label_map(v_label_id),
                tab, _props_expr(vp),
            ).alias("value")
        ),
        os.path.join(out_dir, "vtx_property"),
    )
    _write_text_parts(
        graph.edges.select(
            F.concat(
                F.col("src").cast("string"), tab, F.col("dst").cast("string"),
                tab, _label_map(e_label_id), tab, _props_expr(ep),
            ).alias("value")
        ),
        os.path.join(out_dir, "edge_property"),
    )

    # adjacency lists: {vid}\t{num_in}\t{in..} {num_out}\t{out..} —
    # a space, not a tab, ends the in-list (the data source's adjacency
    # reader and Grasper's sample data both use this layout);
    # two partial-aggregated groupBys keyed by vid (the per-line fanout
    # the format itself mandates), left-joined onto the vid universe so
    # isolated vertices still get a line
    ins = graph.edges.groupBy(F.col("dst").alias("vid")).agg(
        F.sort_array(F.collect_list("src")).alias("_ins")
    )
    outs = graph.edges.groupBy(F.col("src").alias("vid")).agg(
        F.sort_array(F.collect_list("dst")).alias("_outs")
    )
    empty = F.array().cast("array<long>")
    adj = (
        graph.vertices.select("vid")
        .join(ins, "vid", "left")
        .join(outs, "vid", "left")
        .select(
            F.concat(
                F.col("vid").cast("string"),
                tab, F.size(F.coalesce("_ins", empty)).cast("string"),
                tab, F.array_join(
                    F.concat(
                        F.coalesce("_ins", empty).cast("array<string>"),
                        F.array(F.size(F.coalesce("_outs", empty)).cast("string")),
                    ),
                    " ",
                ),
                tab, F.array_join(F.coalesce("_outs", empty).cast("array<string>"), " "),
            ).alias("value")
        )
    )
    _write_text_parts(adj, os.path.join(out_dir, "vertices"))


def zorder_code(cols, mins, maxs, bits: int = 16):
    """Morton (Z-order) code Column: each column is min-max scaled to a
    `bits`-bit integer and the bit patterns are interleaved, so rows
    close in EVERY dimension get close codes. Pure JVM expression tree —
    2·bits shift/or terms, codegen'd, no UDF."""
    qs = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi - lo) or 1.0
        scaled = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
                        * F.lit(float((1 << bits) - 1))).cast("long"),
            ),
        )
        qs.append(scaled)
    code = F.lit(0).cast("long")
    nd = len(qs)
    for b in range(bits):
        for d, q in enumerate(qs):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            code = code + (bit.cast("long") * F.lit(1 << (b * nd + d)).cast("long"))
    return code


def write_zordered(
    df, path: str, cols: list, num_files: int = 8, bits: int = 16
) -> None:
    """Z-order clustered parquet write: range-partition + sort by the
    Morton code of `cols` so parquet row-group min/max statistics prune
    on EVERY clustered dimension, not just a lexicographic prefix — the
    multi-dimensional layout tool for 100 TB scans filtered on several
    columns (e.g. (user_id, ts) event queries).

    One driver-side min/max agg fixes the scaling (a one-time layout
    decision, like computing range-partition bounds); the write itself
    is repartitionByRange + sortWithinPartitions — no global sort
    materialization."""
    stats = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"_lo{i}"] for i in range(len(cols))]
    maxs = [stats[f"_hi{i}"] for i in range(len(cols))]
    code = zorder_code(cols, mins, maxs, bits)
    (
        df.withColumn("_zcode", code)
        .repartitionByRange(num_files, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark, path: str, out_path: str, target_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(bytes / target_mb) files — the maintenance op that keeps a
    100 TB table's file count (and thus driver planning time + NN
    pressure) bounded after many incremental/streaming appends.
    Returns the number of output files."""
    import math
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(dp, fn))
        for dp, _, fns in _os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n
