"""Pluggable `spark.read.format("grasper")` connector — Spark 4 Python
DataSource API over Grasper's native HDFS text format.

The JVM-side loader (`sources/grasper_text.load_grasper_text`) remains
the high-throughput path (spark.read.text + codegen'd parsing). This
connector is the *pluggable* face of the same format: schema inference
from the index dictionaries, per-file partition planning, executor-side
parsing, and `pushFilters` label pruning — so third-party tooling that
only speaks `spark.read.format(...)` can scan Grasper exports without
importing this package on the driver beyond registration.

Tables (`.option("table", ...)`):

- ``vertices``  — vtx_property/part_*  → (vid, label, <typed property columns>)
- ``edges``     — edge_property/part_* → (src, dst, label, <typed property columns>)
- ``adjacency`` — vertices/part_*      → (vid, in_nbs array<bigint>, out_nbs array<bigint>)
  (the topology files the JVM loader skips — exposed here so the raw
  adjacency is scannable too, isolated vertices included)

Format spec: Grasper's docs/Tutorial.md:10-42; type codes
Grasper's base/type.hpp:307-313 (1=int 2=double 3=char 4=string
5=uint64, 16|t = tab-joined collection of t).

Scale design: partitions() plans ONE InputPartition PER part_* FILE
(the format's natural split unit — the reference loads the same file
list per worker, storage/data_store.cpp:41-106), so a 1000-file export
fans out to 1000 parallel scan tasks; `pushFilters` drops non-matching
lines during the scan (label equality is resolved to the label ID
driver-side, so executors compare one int before any property parse).

Everything the executors run is defined inside `register`'s closure and
pickles BY VALUE — workers never import grasper_spark (the repo's UDF
convention).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

FORMAT_NAME = "grasper"


def register(spark: SparkSession) -> None:
    """Register the 'grasper' format on this session:

        spark.read.format("grasper").option("path", d)
             .option("table", "edges").load()
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        EqualTo,
        InputPartition,
    )

    # implementing pushFilters() requires opting in (Spark 4.1 gates
    # Python-source pushdown behind a flag, default off)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    # Everything below (helpers included) lives INSIDE this closure so
    # cloudpickle serializes it by value: the data-source worker that
    # instantiates the class is a bare Python process that cannot
    # import grasper_spark.
    def _read_dict_file(path):
        out = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line:
                    name, i = line.split("\t")
                    out[name] = int(i)
        return out

    def _read_prop_index_file(path):
        # [(pid, key_name, type_code)] in pid order
        out = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line:
                    key, pid, code = line.split("\t")
                    out.append((int(pid), key, int(code)))
        return sorted(out)

    _SPARK_TYPES = {1: "int", 2: "double", 3: "string", 4: "string", 5: "bigint"}

    def _code_to_ddl(code):
        if code in _SPARK_TYPES:
            return _SPARK_TYPES[code]
        if code & 16 and (code & ~16) in _SPARK_TYPES:
            return f"array<{_SPARK_TYPES[code & ~16]}>"
        raise ValueError(f"unknown Grasper property type code: {code}")

    def _iter_rows(path, kind, props, labels, want_label=None):
        # one part_* file → typed row tuples (shared by the batch and
        # streaming readers; runs executor-side)
        def parse_props(body):
            out = {}
            if body.startswith("["):
                body = body[1:]
            if body.endswith("]"):
                body = body[:-1]
            if not body:
                return out
            for part in body.split(","):
                pid, _, raw = part.partition(":")
                out[int(pid)] = raw
            return out

        def conv(raw, code):
            if raw is None or raw == "":
                return None
            if code & 16:
                elem = code & ~16
                return [conv(e, elem) for e in raw.split("\t")]
            if raw[:1] in "\"'" and raw[-1:] == raw[:1]:
                raw = raw[1:-1]
            if code in (1, 5):
                return int(raw)
            if code == 2:
                return float(raw)
            return raw

        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                if kind == "adjacency":
                    # {vid}\t{num_in}\t{in.. num_out}\t{out..}: the
                    # LAST space-token of field 2 is num_out
                    # (Tutorial.md:12 — \s separates the in-list
                    # from the out-count, \t starts the out-list)
                    f = line.split("\t")
                    vid = int(f[0])
                    n_in = int(f[1])
                    mid = f[2].split()
                    ins = [int(x) for x in mid[:n_in]]
                    n_out = int(mid[n_in])
                    outs = [int(x) for x in f[3].split()] if n_out else []
                    yield (vid, ins, outs)
                    continue
                if kind == "vertices":
                    # {vid}\t{label_id}\t[props] — props may embed tabs
                    vid_s, lab_s, body = line.split("\t", 2)
                    lab_id = int(lab_s)
                    if want_label is not None and lab_id != want_label:
                        continue
                    pv = parse_props(body)
                    yield (
                        int(vid_s),
                        labels.get(lab_id),
                        *[conv(pv.get(pid), code) for pid, _, code in props],
                    )
                else:  # edges
                    src_s, dst_s, lab_s, body = line.split("\t", 3)
                    lab_id = int(lab_s)
                    if want_label is not None and lab_id != want_label:
                        continue
                    pv = parse_props(body)
                    yield (
                        int(src_s),
                        int(dst_s),
                        labels.get(lab_id),
                        *[conv(pv.get(pid), code) for pid, _, code in props],
                    )

    class _Reader(DataSourceReader):
        def __init__(self, files, kind, prop_index, label_by_id):
            self._files = files
            self._kind = kind  # 'vertices' | 'edges' | 'adjacency'
            self._props = prop_index  # [(pid, key, code)]
            self._labels = label_by_id  # id -> string
            self._label_id_filter = None

        def pushFilters(self, filters):
            # label equality resolves to a dictionary id driver-side;
            # executors then drop lines on one int compare before any
            # property parsing. Everything else stays with Spark.
            for f in filters:
                if (
                    isinstance(f, EqualTo)
                    and f.attribute == ("label",)
                    and self._kind in ("vertices", "edges")
                ):
                    rev = {v: k for k, v in self._labels.items()}
                    # unknown label -> impossible id: scan yields nothing
                    self._label_id_filter = rev.get(f.value, -1)
                else:
                    yield f

        def partitions(self):
            return [InputPartition(p) for p in self._files]

        def read(self, partition):
            return _iter_rows(
                partition.value,
                self._kind,
                self._props,
                self._labels,
                self._label_id_filter,
            )

    class _StreamReader(DataSourceStreamReader):
        """Micro-batch reader over an APPEND-ONLY part-file directory —
        the format's natural log: each offset is the set of files seen,
        a micro-batch is the newly arrived files, one InputPartition
        each (executor-side parse, same row iterator as the batch
        scan). File contents must be immutable once written (the
        standard log-shipping contract); file names may arrive in any
        order because offsets track the explicit set, not a count."""

        def __init__(self, data_dir, kind, prop_index, label_by_id):
            self._dir = data_dir
            self._kind = kind
            self._props = prop_index
            self._labels = label_by_id

        def _list(self):
            return sorted(
                f
                for f in os.listdir(self._dir)
                if not f.startswith((".", "_"))
            )

        def initialOffset(self):
            return {"files": []}

        def latestOffset(self):
            return {"files": self._list()}

        def partitions(self, start, end):
            seen = set(start.get("files", []))
            new = [f for f in end.get("files", []) if f not in seen]
            return [
                InputPartition(os.path.join(self._dir, f)) for f in new
            ]

        def read(self, partition):
            return _iter_rows(
                partition.value, self._kind, self._props, self._labels
            )

        def commit(self, end):
            pass

        def stop(self):
            pass

    class GrasperTextDataSource(DataSource):
        @classmethod
        def name(cls):
            return "grasper"

        def _dir(self):
            path = self.options.get("path")
            if not path:
                raise ValueError("grasper source needs .option('path', <dir>)")
            return path

        def _table(self):
            t = self.options.get("table", "edges")
            if t not in ("vertices", "edges", "adjacency"):
                raise ValueError(f"unknown grasper table {t!r}")
            return t

        def _prop_index(self):
            idx = os.path.join(self._dir(), "index")
            name = (
                "vtx_property_index"
                if self._table() == "vertices"
                else "edge_property_index"
            )
            return _read_prop_index_file(os.path.join(idx, name))

        def schema(self):
            t = self._table()
            if t == "adjacency":
                return "vid bigint, in_nbs array<bigint>, out_nbs array<bigint>"
            cols = (
                ["vid bigint", "label string"]
                if t == "vertices"
                else ["src bigint", "dst bigint", "label string"]
            )
            cols += [
                f"`{key}` {_code_to_ddl(code)}" for _, key, code in self._prop_index()
            ]
            return ", ".join(cols)

        def _reader_inputs(self):
            t = self._table()
            sub = {
                "vertices": "vtx_property",
                "edges": "edge_property",
                "adjacency": "vertices",
            }[t]
            d = os.path.join(self._dir(), sub)
            if t == "adjacency":
                props, labels = [], {}
            else:
                props = self._prop_index()
                lbl = "vtx_label" if t == "vertices" else "edge_label"
                labels = {
                    v: k
                    for k, v in _read_dict_file(
                        os.path.join(self._dir(), "index", lbl)
                    ).items()
                }
            return d, t, props, labels

        def reader(self, schema):
            d, t, props, labels = self._reader_inputs()
            files = sorted(
                os.path.join(d, f)
                for f in os.listdir(d)
                if not f.startswith((".", "_"))
            )
            return _Reader(files, t, props, labels)

        def streamReader(self, schema):
            d, t, props, labels = self._reader_inputs()
            return _StreamReader(d, t, props, labels)

    spark.dataSource.register(GrasperTextDataSource)
