"""Gremlin-subset → DataFrame compiler.

The engine's central representation decision (SURVEY.md §1.4): the
reference streams traversers as ``vector<pair<history_t, vector<value_t>>>``
(core/message.hpp:74-100). Here a traverser stream is ONE
DataFrame:

- current value: ``_v`` (vertex vid) | ``_esrc,_edst,_el,_ep_*`` (edge
  row) | ``_val`` (scalar)
- each ``as('a')``: an extra column ``_as_a``
- labelled-branch membership (and/or/not): the cheapest exact key
  (``steps.branch_key``): one inline Column, the edge key column, the
  current element, or a ``_tid`` traverser-id column (content hash)
  mirroring CreateBranchedMsgWithHisLabel (core/message.cpp:214-268)

Every Grasper expert then becomes a stock DataFrame op (filter / join /
groupBy / union / window), so Catalyst does predicate pushdown, column
pruning, join selection and AQE for free — the Spark equivalents of the
reference's parser-level rewrites (SURVEY.md §4.1).

Scale notes:
- vertex property access joins V lazily (only when a later step reads a
  property before the next traversal) — the analogue of Grasper's
  on-demand remote property fetch + cache
  (expert/expert_cache.hpp) without the cache, because
  properties ride columnar and pruned.
- traversals are plain equi-joins on src/dst: Catalyst/AQE picks
  broadcast vs sort-merge and handles skew; at cluster scale, bucket E
  by src and dst (graph.edges_by_dst) to make them co-located joins.
- the only driver-side operations are plan construction; no collect()
  in any operator.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grasper_spark.graph import PropertyGraph
from grasper_spark.plans.predicates import P, Pred, pred_to_condition
from grasper_spark.plans.steps import (
    ELEMENT, HOP, INLINE, STEPS, TAGGED, Step, branch_key, nodes, step_names,
)

# canonical stream columns
VCOL = "_v"
VLAB = "_vl"
VP = "_vp_"
ESRC = "_esrc"
EDST = "_edst"
ELAB = "_el"
EP = "_ep_"
VAL = "_val"
AS = "_as_"
TID = "_tid"
KEY = "_key"
ORD = "_ord_"

_uid = itertools.count()

#: |E| above which traversal expansions hint sort-merge instead of
#: letting Catalyst broadcast the edge relation from its static file
#: estimate. Measured crossover (r8, local[32], bucketed store):
#: sf1 / 7.7M edges -> merge 2.2x faster (0.47 vs 1.04 s on the Q8
#: shape); sf0.1 / 0.77M edges -> broadcast ties or wins. Only
#: consulted when a loader recorded PropertyGraph.edge_count().
EXPAND_MERGE_MIN_EDGES = 2_000_000

#: side-effect store cache: semantic-plan-keyed LRU of the persisted
#: stream forks created by aggregate()/store() (see _step_aggregate).
#: Bounded so a long-lived session (emu, console) compiling many
#: distinct side-effect queries cannot accumulate cached relations
#: without limit; an evicted store is unpersisted and simply recomputes
#: if a still-live lazy plan references it.
_STORE_LRU: "dict[int, DataFrame]" = {}
_STORE_LRU_MAX = 64
import threading as _threading_mod

_STORE_LRU_LOCK = _threading_mod.Lock()


def _persisted_store(df: DataFrame) -> DataFrame:
    try:
        key = df.semanticHash()
    except Exception:
        return df.persist()  # no canonical key — persist unmanaged
    with _STORE_LRU_LOCK:
        hit = _STORE_LRU.get(key)
    if hit is not None:
        # semanticHash is 32-bit — confirm plan equality before serving,
        # or a collision would silently substitute a DIFFERENT relation
        # as this query's side-effect store (py4j call outside the lock)
        try:
            same = df.sameSemantics(hit)
        except Exception:
            same = False
        if same:
            with _STORE_LRU_LOCK:
                if key in _STORE_LRU:
                    _STORE_LRU[key] = _STORE_LRU.pop(key)  # MRU bump
            return hit
        # collision: the resident keeps its slot; this plan persists
        # unmanaged (it just recomputes if referenced after GC)
        return df.persist()
    p = df.persist()
    evicted = []
    with _STORE_LRU_LOCK:
        _STORE_LRU[key] = p
        while len(_STORE_LRU) > _STORE_LRU_MAX:
            evicted.append(_STORE_LRU.pop(next(iter(_STORE_LRU))))
    for old in evicted:  # py4j calls outside the lock
        try:
            old.unpersist()
        except Exception:
            pass
    return p


def eid_col() -> Column:
    """The synthetic edge id: src<<32 | dst — the reference's eid_t
    bit-pack (base/type.hpp:156-184). The ONE packing
    shared by Stream.val(), id(), elementMap, and hasId (a second
    packing would make ids from id() unmatchable by hasId())."""
    return F.shiftleft(F.col(ESRC), 32).bitwiseOR(F.col(EDST))


class CompileError(ValueError):
    """Ill-typed or invalid step chain (plan-time, before execution)."""


def number_coins(steps: Sequence[Step]) -> list[Step]:
    """Give every coin(p) in a traversal tree its pre-order ordinal as
    a second argument, coin(p, k). The ordinal salts that step's draw
    (``_step_coin``), so two coin steps over one stream flip
    independently; the grouped (prepared) and per-query compiles of one
    template see the same tree, so each coin gets the same salt in both.
    Idempotent: renumbering a numbered tree gives the same ordinals."""
    n = itertools.count()

    def walk(a: Any) -> Any:
        if isinstance(a, Step):
            if a.name == "coin":
                return Step("coin", (a.args[0], next(n)))
            args = tuple(walk(x) for x in a.args)
            return a if args == a.args else Step(a.name, args)
        if isinstance(a, (tuple, list)):
            return type(a)(walk(x) for x in a)
        return a

    return [walk(st) for st in steps]


def _traverser_identity(names: Sequence[str]) -> list[Column]:
    """Columns naming a traverser alike under grouped (prepared) and
    per-query execution: each non-``_tid`` column as is, each branch
    tag ``_tidK`` without its h2 field (h2 hashes the prepared
    passenger), and no passenger column ``_tidpq*`` at all."""
    out = []
    for c in names:
        if not c.startswith(TID):
            out.append(F.col(c))
        elif c[len(TID):].isdigit():
            out.append(F.col(c).dropFields("h2"))
    return out


@dataclass
class Stream:
    df: DataFrame
    kind: str  # 'V' | 'E' | 'S'
    dtype: Optional[str] = None  # scalar spark type name
    props: bool = False  # vertex properties attached
    history: dict[str, str] = field(default_factory=dict)  # as-label -> column
    hist_dtype: dict[str, str] = field(default_factory=dict)  # as-label -> spark type
    group_cols: list[str] = field(default_factory=list)  # barrier grouping (branch tid)
    sort: list[tuple[str, bool]] = field(default_factory=list)  # (col, asc)

    def val(self) -> Column:
        if self.kind == "V":
            return F.col(VCOL)
        if self.kind == "E":
            return eid_col()
        return F.col(VAL)

    def core_cols(self) -> list[str]:
        if self.kind == "V":
            return [VCOL]
        if self.kind == "E":
            return [c for c in self.df.columns if c.startswith((ESRC, EDST, ELAB, EP))]
        return [VAL]

    def hist_cols(self) -> list[str]:
        return list(self.history.values())

    def sort_cols(self) -> list[str]:
        return [c for c, _ in self.sort if c in self.df.columns]


def _fmt_value(col: Column, dtype: str) -> Column:
    """Tool::DebugString parity (utils/tool.hpp:334-368):
    doubles render as %.6f, trailing '.'/'0' trimmed when |v| >= 1."""
    if dtype in ("double", "float"):
        s = F.format_string("%.6f", col)
        return F.when(F.abs(col) >= 1, F.regexp_replace(s, r"[.0]+$", "")).otherwise(s)
    return col.cast("string")


class GremlinCompiler:
    """Compile a Step list against a PropertyGraph into a DataFrame plan."""

    def __init__(
        self,
        graph: PropertyGraph,
        seed: int = 42,
        index_store: Optional[Any] = None,
        config: Optional[dict] = None,
    ):
        self.g = graph
        self.seed = seed
        self.index_store = index_store
        self.config = config or {}
        self.index_hits = 0  # scans converted to index lookups (observable)
        self._rounds: tuple[int, ...] = ()  # enclosing repeat() iterations
        self.side_effects: dict[str, DataFrame] = {}
        self._v_renamed: Optional[DataFrame] = None
        self._e_renamed: Optional[DataFrame] = None

    # ---------- prepared inputs ----------

    def _vertices(self) -> DataFrame:
        # the renamed projection is a pure function of the (immutable)
        # PropertyGraph, so it memoizes ON THE GRAPH across compiler
        # instances: per-query compilation was paying ~80 ms of py4j
        # round trips rebuilding the identical select every query (the
        # dominant cost of the per-query serving tier's compile step)
        if self._v_renamed is None:
            memo = getattr(self.g, "_compiler_v_renamed", None)
            if memo is None:
                cols = [F.col("vid").alias(VCOL), F.col("label").alias(VLAB)]
                cols += [F.col(k).alias(VP + k) for k in self.g.vertex_keys]
                memo = self.g.vertices.select(*cols)
                try:
                    self.g._compiler_v_renamed = memo
                except Exception:
                    pass  # slotted/frozen graph impls: build per compiler
            self._v_renamed = memo
        return self._v_renamed

    def _edges(self, by_dst: bool = False) -> DataFrame:
        # same per-graph memo as _vertices — this one was rebuilt per
        # EXPANSION (one renamed select per hop, ~40 ms each)
        attr = "_compiler_e_dst_renamed" if by_dst else "_compiler_e_renamed"
        memo = getattr(self.g, attr, None)
        if memo is None:
            src = self.g.edges_by_dst() if by_dst else self.g.edges
            cols = [F.col("src").alias(ESRC), F.col("dst").alias(EDST), F.col("label").alias(ELAB)]
            cols += [F.col(k).alias(EP + k) for k in self.g.edge_keys]
            memo = src.select(*cols)
            try:
                setattr(self.g, attr, memo)
            except Exception:
                pass
        return memo

    # ---------- entry ----------

    def compile(self, steps: Sequence[Step], start: Optional[Stream] = None) -> Stream:
        if start is None and any(
            st.name in ("path", "simplePath", "cyclicPath") for st in steps
        ):
            # path mode: record each location as a string column riding
            # the history machinery (extension — the reference has no
            # path(), SURVEY.md §2.7). simplePath/cyclicPath filter on
            # the same recorded locations.
            self._path_mode = True
            self._path_n = 0
        # plan-rewrite passes ride the reference's step_reorder switch
        # (SetConfig('step_reorder', b) — expert/config_expert.hpp:47,
        # applied at parse time in core/parser.cpp:496): disabling it
        # yields the literal step-by-step plan for A/B comparison
        if self._reorder():
            steps = self._fuse_dedup_count(list(steps))
            if start is None and not getattr(self, "_path_mode", False):
                # top-level only: the fused step ignores branch group
                # columns and path recording, so it must not fire inside
                # branch bodies (start is not None there) or path mode
                steps = self._fuse_co_neq_dedup_count(steps)
        else:
            steps = list(steps)
        s = start
        # no conversion in path mode: stripping V()+has() would drop the
        # initial location from the recorded path (observable output)
        if start is None and not getattr(self, "_path_mode", False):
            steps, s = self._try_index_scan(steps)
        for step in steps:
            s = self._apply(s, step)
            if (
                getattr(self, "_path_mode", False)
                and start is None
                and STEPS[step.name].path
            ):
                s = self._record_path(s)
        return s

    @staticmethod
    def _fuse_dedup_count(steps: list[Step]) -> list[Step]:
        """Peephole: dedup().count() ≡ count-distinct. The dedup survivor
        row is unobservable under count(), so the deterministic-survivor
        window (wide shuffle + per-partition sort) is wasted work —
        fuse into select(keys).distinct().count(), which gets map-side
        partial aggregation and shuffles only the key columns."""
        out: list[Step] = []
        i = 0
        while i < len(steps):
            if (
                steps[i].name == "dedup"
                and i + 1 < len(steps)
                and steps[i + 1].name == "count"
            ):
                out.append(Step("dedupCount", steps[i].args))
                i += 2
            else:
                out.append(steps[i])
                i += 1
        return out

    @staticmethod
    def _fuse_co_neq_dedup_count(steps: list[Step]) -> list[Step]:
        """Peephole (guide §3 — avoid the pair fan-out):
        ``as('a').out(L).in(L).where(neq('a')).dedup().count()`` asks
        "how many vertices share an L-neighbor with a DIFFERENT vertex
        of the current stream". The literal plan enumerates every
        co-occurrence PAIR — sum over neighbors of (stream-degree x
        total-degree), quadratic in degree — then deduplicates.
        dedup().count() makes pair multiplicity unobservable, so the
        answer only needs, per intermediate neighbor, the least and the
        greatest stream-side source: b survives iff some a != b
        co-occurs, i.e. iff b differs from the least or from the
        greatest (two distinct sources cannot both equal b). The fused
        step computes exactly that with per-neighbor min/max aggregates
        — linear in the edge count. in(L).out(L) is the mirrored
        direction. Fires only when the as-label is referenced nowhere
        after the where()."""
        for i in range(len(steps) - 4):
            s0, s1, s2, s3, s4 = steps[i:i + 5]
            if (
                s0.name == "as"
                and len(s0.args) == 1
                and isinstance(s0.args[0], str)
                and s1.name in ("out", "in")
                and s2.name == ("in" if s1.name == "out" else "out")
                and s1.args == s2.args
                and all(isinstance(lb, str) for lb in s1.args)
                and s3.name == "where"
                and s3.args == (Pred("neq", (s0.args[0],)),)
                and s4.name == "dedupCount"
                and not s4.args
                # a conservative syntactic scan: any string equal to the
                # label counts (a false positive only skips the fusion)
                and not any(
                    isinstance(n, str) and n == s0.args[0]
                    for n in nodes(steps[i + 5:])
                )
            ):
                return (
                    steps[:i]
                    + [Step("coNeqDedupCount", (s1.name, s1.args))]
                    + steps[i + 5:]
                )
        return steps

    def _try_index_scan(
        self, steps: list[Step]
    ) -> tuple[list[Step], Optional[Stream]]:
        """Index-scan conversion (core/parser.cpp:991-1081):
        a `has(key, pred)` / `hasLabel(...)` in the leading filter run
        after `V()`/`E()` becomes a posting-list lookup when its match
        count clears the selectivity gate (count < ratio·total,
        core/index_store.hpp:17); among several eligible
        filters the most selective converts (min_count logic) and the
        rest stay as filters over the looked-up stream."""
        if (
            self.index_store is None
            or str(self.config.get("indexing", "true")).lower() == "false"
            or not steps
            or steps[0].name not in ("V", "E")
            or steps[0].args  # V(id…): the id restriction must survive
        ):
            return steps, None
        element = steps[0].name
        try:
            # measured-crossover floor (index_store.eligible docstring):
            # conversions that avoid too few scanned rows don't pay
            floor = int(self.config.get("index_scan_min_avoided", 0) or 0)
        except (TypeError, ValueError):
            floor = 0
        best: Optional[tuple[int, int, str, Optional[Pred]]] = None
        for i, st in enumerate(steps[1:], start=1):
            if st.name == "has" and len(st.args) >= 1:
                key = st.args[0]
                pred = st.args[1] if len(st.args) > 1 else None
            elif st.name == "hasLabel":
                key, pred = "label", P.within(*st.args)
            else:
                break  # only the leading consecutive filter run converts
            if isinstance(pred, Pred) and pred.op in ("within", "without") and not all(
                isinstance(a, (int, float, str)) for a in pred.args
            ):
                continue  # history-label membership — not an index probe
            count = self.index_store.eligible(element, key, pred, min_avoided=floor)
            if count is not None and (best is None or count < best[0]):
                best = (count, i, key, pred)
        if best is None:
            return steps, None
        _, i, key, pred = best
        self.index_hits += 1
        df = self.index_store.lookup(element, key, pred)
        stream = Stream(df=df, kind=element, props=False)
        return steps[1:i] + steps[i + 1:], stream

    def _record_path(self, s: Stream) -> Stream:
        col = f"_pp{self._path_n}"
        self._path_n += 1
        if s.kind == "E":
            loc = F.concat(F.col(ESRC).cast("string"), F.lit("->"), F.col(EDST).cast("string"))
        else:
            loc = s.val().cast("string")
        s2 = replace(s, df=s.df.withColumn(col, loc), history=dict(s.history))
        s2.history[col] = col
        return s2

    def _step_path(self, s: Stream, by_key: str | None = None) -> Stream:
        """path() renders "[loc0, loc1, …]"; path().by(k) re-renders each
        VERTEX location through property k (broadcast lookup against the
        pruned (vid, k) relation, one join per recorded location — path
        length is a query constant, so this is a fixed join chain, not a
        data-dependent loop). Non-vertex locations (scalars, edges) and
        vertices missing the property keep their raw rendering."""
        pps = sorted(
            (c for c in s.history if c.startswith("_pp")),
            key=lambda c: int(c[3:]),
        )
        if not pps:
            raise CompileError("path(): no recorded locations")
        df = s.df
        if by_key is not None:
            rel = self._vertices().select(
                F.col(VCOL).cast("string").alias("_pbk"),
                F.col(VP + by_key).cast("string").alias("_pbv"),
            ).filter(F.col("_pbv").isNotNull())
            for c in pps:
                df = (
                    df.join(
                        F.broadcast(rel), df[c] == rel["_pbk"], "left"
                    )
                    .withColumn(c, F.coalesce(F.col("_pbv"), F.col(c)))
                    .drop("_pbk", "_pbv")
                )
        val = F.concat(F.lit("["), F.concat_ws(", ", *[F.col(c) for c in pps]), F.lit("]"))
        df = df.select(*[h for h in s.hist_cols() if not h.startswith("_pp")], val.alias(VAL))
        hist = {k: v for k, v in s.history.items() if not k.startswith("_pp")}
        out = Stream(df=df, kind="S", dtype="string", history=hist,
                     group_cols=list(s.group_cols))
        return out

    def result_df(self, stream: Stream) -> DataFrame:
        """User-facing projection: vertices → (vid), edges → (src,dst),
        scalars → (val)."""
        df = stream.df
        if stream.sort:
            df = df.orderBy(
                *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in stream.sort]
            )
        if stream.kind == "V":
            return df.selectExpr(f"`{VCOL}` AS vid")
        if stream.kind == "E":
            return df.selectExpr(f"`{ESRC}` AS src", f"`{EDST}` AS dst")
        return df.selectExpr(f"`{VAL}` AS val")

    # ---------- helpers ----------

    def _ensure_vprops(self, s: Stream) -> Stream:
        # (measured: a point-serving broadcast hint on the stream side
        # here EXECUTES WORSE than the default table-side broadcast —
        # the stream subtree must run to build the broadcast, serially
        # before the probe; the table projection broadcast amortizes
        # across the plan's stages. Keep Catalyst/AQE's choice.)
        if s.kind != "V" or s.props:
            return s
        return replace(s, df=s.df.join(self._vertices(), VCOL, "inner"), props=True)

    def _prop_expr(self, s: Stream, key: str) -> tuple[Stream, str, str]:
        """SQL-string twin of _prop_col for hot projection paths: the
        returned expression goes into ONE selectExpr/filter call instead
        of building Column objects over py4j. Interpolates only schema-
        derived identifiers (backticked) — never user values."""
        if s.kind == "V":
            if key == "label":
                return self._ensure_vprops(s), f"`{VLAB}`", "string"
            if key not in self.g.vertex_keys:
                return s, "CAST(NULL AS STRING)", "string"
            return self._ensure_vprops(s), f"`{VP + key}`", self.g.vertex_keys[key]
        if s.kind == "E":
            if key == "label":
                return s, f"`{ELAB}`", "string"
            if key not in self.g.edge_keys:
                return s, "CAST(NULL AS STRING)", "string"
            return s, f"`{EP + key}`", self.g.edge_keys[key]
        raise TypeError(f"property access on scalar stream: {key}")

    def _prop_col(self, s: Stream, key: str) -> tuple[Stream, Column, str]:
        """Column holding property `key` for the current element kind."""
        if s.kind == "V":
            if key == "label":
                s = self._ensure_vprops(s)
                return s, F.col(VLAB), "string"
            if key not in self.g.vertex_keys:
                return s, F.lit(None).cast("string"), "string"
            s = self._ensure_vprops(s)
            return s, F.col(VP + key), self.g.vertex_keys[key]
        if s.kind == "E":
            if key == "label":
                return s, F.col(ELAB), "string"
            if key not in self.g.edge_keys:
                return s, F.lit(None).cast("string"), "string"
            return s, F.col(EP + key), self.g.edge_keys[key]
        raise TypeError(f"property access on scalar stream: {key}")

    def _strip(self, s: Stream) -> DataFrame:
        """Project down to value + history (drop props / sort cols)."""
        keep = ([VCOL] if s.kind == "V" else s.core_cols() if s.kind == "E" else [VAL])
        return s.df.select(*keep, *s.hist_cols())

    def _traversal_result(
        self, s: Stream, df: DataFrame, kind: str, keep_sort: bool = False, **kw: Any
    ) -> Stream:
        return Stream(
            df=df, kind=kind, props=False, history=dict(s.history),
            hist_dtype=dict(s.hist_dtype),
            group_cols=list(s.group_cols), sort=(list(s.sort) if keep_sort else []), **kw,
        )

    # ---------- dispatch ----------

    def _apply(self, s: Optional[Stream], step: Step) -> Stream:
        name = step.name
        fn = getattr(self, f"_step_{name}", None)
        if fn is None:
            raise CompileError(f"step not implemented: {name}")
        try:
            return fn(s, *step.args)
        except AssertionError as e:
            # io_type state-machine parity: the reference parser rejects
            # ill-typed chains at plan time (core/parser.cpp:161-215)
            raise CompileError(f"at step {step!r}: {e}") from None

    # ---------- sources ----------

    def _step_V(self, s: Optional[Stream], *ids) -> Stream:
        assert s is None, "V() only at query start"
        st = Stream(df=self._vertices(), kind="V", props=True)
        if ids:
            # V(id…) point start (TinkerPop-style extension): an early
            # vid filter — vids are derived columns, so this prunes rows
            # right after the scans rather than converting them; a
            # point-lookup workload should BuildIndex on the natural key
            # and use has() for true scan conversion.
            st = replace(st, df=st.df.filter(F.col(VCOL).isin(list(ids))))
        return st

    def _step_E(self, s: Optional[Stream], *args) -> Stream:
        assert s is None, "E() only at query start"
        if args:
            raise CompileError("E() takes no arguments (edges have no ids)")
        return Stream(df=self._edges(), kind="E")

    # ---------- filters ----------

    def _step_has(self, s: Stream, key: str, pred: Optional[Pred] = None) -> Stream:
        pred = pred if pred is not None else P.ANY
        s, col, dt = self._prop_col(s, key)
        return replace(s, df=s.df.filter(pred_to_condition(pred, col, dtype=dt)))

    def _step_hasId(self, s: Stream, pred: Pred) -> Stream:
        """hasId(pred) — filter by element id (vid for vertices, the
        packed (src,dst) eid for edges). TinkerPop-parity extension:
        the reference restricts ids to g.V(id…) starts
        (core/parser.cpp:1136-1160); here the id is just a column."""
        assert s.kind in ("V", "E"), "hasId() applies to elements"
        col = F.col(VCOL) if s.kind == "V" else s.val()
        return replace(
            s, df=s.df.filter(pred_to_condition(pred, col, dtype="bigint"))
        )

    def _step_hasNot(self, s: Stream, key: str) -> Stream:
        s, col, _ = self._prop_col(s, key)
        return replace(s, df=s.df.filter(col.isNull()))

    def _step_hasKey(self, s: Stream, *keys: str) -> Stream:
        for k in keys:
            s, col, _ = self._prop_col(s, k)
            s = replace(s, df=s.df.filter(col.isNotNull()))
        return s

    def _step_hasValue(self, s: Stream, *vals: Any) -> Stream:
        # "any property has this value" — has_expert pid=-1 path
        # (expert/has_expert.hpp:42-217)
        s = self._ensure_vprops(s) if s.kind == "V" else s
        keys = self.g.vertex_keys if s.kind == "V" else self.g.edge_keys
        prefix = VP if s.kind == "V" else EP
        numeric = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")
        cond = F.lit(False)
        for k, dtype in keys.items():
            for v in vals:
                # mixed non-numeric types never match (predicate.cpp:28-44);
                # comparing them would also trip ANSI casts — skip.
                v_num = isinstance(v, (int, float)) and not isinstance(v, bool)
                c_num = dtype.startswith(numeric)
                if v_num != c_num:
                    continue
                cond = cond | (F.col(prefix + k) == F.lit(v))
        return replace(s, df=s.df.filter(cond))

    def _step_hasLabel(self, s: Stream, *labels: str) -> Stream:
        if s.kind == "V":
            s = self._ensure_vprops(s)
            return replace(s, df=s.df.filter(F.col(VLAB).isin(list(labels))))
        return replace(s, df=s.df.filter(F.col(ELAB).isin(list(labels))))

    def _step_is(self, s: Stream, pred: Pred) -> Stream:
        assert s.kind == "S", "is() applies to scalar streams"
        if not isinstance(pred, Pred):
            raise CompileError(f"is() needs a predicate, got {pred!r}")
        return replace(
            s, df=s.df.filter(pred_to_condition(pred, F.col(VAL), dtype=s.dtype))
        )

    def _step_coin(self, s: Stream, p: float, site: int = 0) -> Stream:
        """coin(p): an independent Bernoulli(p) draw per traverser at
        each coin step (the reference's expert/barrier_expert.hpp:
        960-1045), made a pure function of the row's content so it does
        not depend on how the rows are partitioned. Keep the row iff
        u < p, with u the low 53 bits of xxhash64(seed, site, rounds,
        value, history, copy ordinal) over 2^53.

        ``site`` is the step's ordinal in its traversal (number_coins)
        and ``rounds`` the enclosing repeat() iterations, so chained
        coins, coins in sibling branches and one coin in successive loop
        rounds draw independently. History enters through
        ``_traverser_identity``: the prepared passenger is left out and
        each branch tag contributes its grouping-free fields, whose
        values agree between grouped and per-query execution, so
        traversers of different outer traversers reaching one vertex
        inside where()/and() still draw apart. The copy ordinal is a
        row_number over ALL stream columns, so identical copies of one
        traverser flip independently (the `_tagged(unique=True)`
        pattern); partitioning by the passenger too keeps each
        parameter's copies apart under grouping. Costs one exchange for
        0 < p < 1."""
        p = float(p)
        if p >= 1.0:
            return s
        if p <= 0.0:
            return replace(s, df=s.df.filter(F.lit(False)))
        cols = s.df.columns if s.kind == "G" else s.core_cols() + s.hist_cols()
        salt = [F.lit(self.seed), F.lit(site), *[F.lit(r) for r in self._rounds]]
        ocol = f"_cn{next(_uid)}"
        w = Window.partitionBy(*[F.col(c) for c in s.df.columns]).orderBy(F.lit(1))
        df = s.df.withColumn(ocol, F.row_number().over(w))
        h = F.xxhash64(*salt, *_traverser_identity(cols), F.col(ocol))
        u = h.bitwiseAND(F.lit((1 << 53) - 1)).cast("double") / float(1 << 53)
        return replace(s, df=df.filter(u < F.lit(p)).drop(ocol))

    def _step_sample(self, s: Stream, n: int) -> Stream:
        """sample(n) (extension — TinkerPop semantics, not in the
        reference's 43-step whitelist): keep n pseudorandomly chosen
        traversers. Deterministic and engine-stable: rank by a seeded
        xxhash64 of the stream columns and take the top n — compiles to
        TakeOrderedAndProject (per-partition top-k, no global sort and
        no single-partition window). Identical traversers hash equally,
        so exact duplicates are kept or cut together at the boundary."""
        cols = [F.col(c) for c in s.df.columns]
        ranked = s.df.withColumn("_smp", F.xxhash64(F.lit(self.seed), *cols))
        df = ranked.orderBy("_smp", *[F.col(c) for c in s.df.columns[:1]]).limit(
            int(n)
        ).drop("_smp")
        return replace(s, df=df)

    # ---------- traversals ----------

    def _expand(self, s: Stream, elabels: tuple[str, ...], direction: str, to: str) -> Stream:
        """The single traversal op (expert/traversal_expert.hpp).

        direction 'out': join stream._v == E.src, move to dst;
        'in': join on dst, move to src. `to` is 'V' or 'E'.
        """
        assert s.kind == "V", f"{direction}{to} requires vertex stream"
        u = next(_uid)
        jsrc, jdst, jlab = f"_j{u}s", f"_j{u}d", f"_j{u}l"
        e = self._edges(by_dst=(direction == "in"))
        eps = {k: f"_j{u}p{i}" for i, k in enumerate(self.g.edge_keys)}
        # selectExpr / string predicates / F.expr join condition: ONE
        # py4j round trip each instead of one per Column object — plan
        # CONSTRUCTION is the per-query serving floor (emu fallback
        # tier: ~350 round trips ≈ 120 ms per compile at local[32], 85%
        # of it socket waits), and _expand was 60% of that. Only
        # compiler-generated identifiers are interpolated (backticked);
        # user VALUES still go through the Column predicate kernel.
        e = e.selectExpr(
            f"`{ESRC}` AS `{jsrc}`", f"`{EDST}` AS `{jdst}`", f"`{ELAB}` AS `{jlab}`",
            *[f"`{EP + k}` AS `{v}`" for k, v in eps.items()],
        )
        n_edges = getattr(self.g, "_edge_count", None)
        if n_edges is not None and n_edges >= EXPAND_MERGE_MIN_EDGES:
            # Measured crossover (r8, local[32]): at sf1 (7.7M edges)
            # Catalyst's static post-pruning file estimate broadcast the
            # 1.5M-row label-pruned edge relation — a per-query hash
            # build that made g_aggregate_without 1.04s vs 0.47s with
            # the bucketed zero-exchange sort-merge join; at sf0.1
            # (0.77M edges) broadcast wins or ties (0.41 vs 0.68). The
            # hint fires only when a loader has RECORDED |E| via
            # PropertyGraph.edge_count() — compile never runs the count
            # job — and only above the crossover. At 100 TB the edge
            # relation can never broadcast, so merge IS the design; the
            # hint just stops the optimizer guessing wrong from
            # compressed-file sizes in between.
            e = e.hint("merge")
        if elabels:
            # Backslashes must be escaped BEFORE quotes: with the default
            # escapedStringLiterals=false, '\b' in a SQL literal is a
            # backspace and a trailing '\' eats the closing quote. Labels
            # with any other control/exotic bytes fall back to Column.isin
            # (one extra py4j trip, correctness over the fast path).
            if all(lb.isprintable() for lb in elabels):
                quoted = ", ".join(
                    "'" + lb.replace("\\", "\\\\").replace("'", "\\'") + "'"
                    for lb in elabels
                )
                e = e.filter(f"`{jlab}` IN ({quoted})")
            else:
                e = e.filter(F.col(jlab).isin(list(elabels)))
        left = self._strip(s)
        key = jsrc if direction == "out" else jdst
        joined = left.join(e, F.expr(f"`{VCOL}` = `{key}`"), "inner")
        hist = [f"`{c}`" for c in s.hist_cols()]
        if to == "V":
            out = jdst if direction == "out" else jsrc
            df = joined.selectExpr(*hist, f"`{out}` AS `{VCOL}`")
            return self._traversal_result(s, df, "V")
        df = joined.selectExpr(
            *hist,
            f"`{jsrc}` AS `{ESRC}`", f"`{jdst}` AS `{EDST}`", f"`{jlab}` AS `{ELAB}`",
            *[f"`{v}` AS `{EP + k}`" for k, v in eps.items()],
        )
        return self._traversal_result(s, df, "E")

    def _step_out(self, s: Stream, *labels: str) -> Stream:
        return self._expand(s, labels, "out", "V")

    def _step_in(self, s: Stream, *labels: str) -> Stream:
        return self._expand(s, labels, "in", "V")

    def _step_both(self, s: Stream, *labels: str) -> Stream:
        a, b = self._step_out(s, *labels), self._step_in(s, *labels)
        return replace(a, df=a.df.unionByName(b.df))

    def _step_outE(self, s: Stream, *labels: str) -> Stream:
        return self._expand(s, labels, "out", "E")

    def _step_inE(self, s: Stream, *labels: str) -> Stream:
        return self._expand(s, labels, "in", "E")

    def _step_bothE(self, s: Stream, *labels: str) -> Stream:
        a, b = self._step_outE(s, *labels), self._step_inE(s, *labels)
        return replace(a, df=a.df.unionByName(b.df))

    def _step_outV(self, s: Stream) -> Stream:
        # edge endpoints decode straight from the edge key — no data access
        # (expert/traversal_expert.hpp:205-238)
        assert s.kind == "E"
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), F.col(ESRC).alias(VCOL))
        return self._traversal_result(s, df, "V", keep_sort=True)

    def _step_inV(self, s: Stream) -> Stream:
        assert s.kind == "E"
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), F.col(EDST).alias(VCOL))
        return self._traversal_result(s, df, "V", keep_sort=True)

    def _step_bothV(self, s: Stream) -> Stream:
        assert s.kind == "E"
        df = s.df.select(
            *s.hist_cols(), F.explode(F.array(F.col(ESRC), F.col(EDST))).alias(VCOL)
        )
        return self._traversal_result(s, df, "V")

    # ---------- projections ----------

    def _step_values(self, s: Stream, *keys: str) -> Stream:
        # missing keys DROP the element (not null) —
        # expert/values_expert.hpp:102-105
        assert keys, "values() needs at least one key"
        if len(keys) == 1:
            # string-expression fast path (one selectExpr round trip —
            # see _expand's rationale); only compiler-generated/schema
            # identifiers are interpolated
            s, ex, dtype = self._prop_expr(s, keys[0])
            df = s.df.filter(f"{ex} IS NOT NULL").selectExpr(
                *[f"`{c}`" for c in s.hist_cols()],
                *[f"`{c}`" for c in s.sort_cols()],
                f"{ex} AS `{VAL}`",
            )
            return self._traversal_result(s, df, "S", keep_sort=True, dtype=dtype)
        cols, dtypes = [], set()
        for k in keys:
            s, col, dt = self._prop_col(s, k)
            cols.append(col)
            dtypes.add(dt)
        assert len(dtypes) == 1, f"values(...) keys must share a type: {dtypes}"
        df = s.df.select(
            *s.hist_cols(), *s.sort_cols(), F.explode(F.array(*cols)).alias(VAL)
        ).filter(F.col(VAL).isNotNull())
        return self._traversal_result(s, df, "S", keep_sort=True, dtype=dtypes.pop())

    def _step_label(self, s: Stream) -> Stream:
        s, col, _ = self._prop_col(s, "label")
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), col.alias(VAL))
        return self._traversal_result(s, df, "S", keep_sort=True, dtype="string")

    def _step_key(self, s: Stream) -> Stream:
        # element → names of present property keys
        # (expert/key_expert.hpp:70-108)
        s = self._ensure_vprops(s) if s.kind == "V" else s
        keys = self.g.vertex_keys if s.kind == "V" else self.g.edge_keys
        prefix = VP if s.kind == "V" else EP
        arr = F.array(
            *[F.when(F.col(prefix + k).isNotNull(), F.lit(k)) for k in keys]
        )
        df = s.df.select(
            *s.hist_cols(), F.explode(F.filter(arr, lambda x: x.isNotNull())).alias(VAL)
        )
        return self._traversal_result(s, df, "S", dtype="string")

    def _step_properties(self, s: Stream, *keys: str) -> Stream:
        # element → "{key:value}" strings, missing keys skipped
        # (expert/properties_expert.hpp:76-194,
        #  format utils/tool.hpp:295-301)
        s = self._ensure_vprops(s) if s.kind == "V" else s
        all_keys = self.g.vertex_keys if s.kind == "V" else self.g.edge_keys
        use = list(keys) if keys else list(all_keys)
        prefix = VP if s.kind == "V" else EP
        parts = []
        for k in use:
            if k not in all_keys:
                continue
            col = F.col(prefix + k)
            parts.append(
                F.when(
                    col.isNotNull(),
                    F.concat(F.lit("{" + k + ":"), _fmt_value(col, all_keys[k]), F.lit("}")),
                )
            )
        arr = F.array(*parts) if parts else F.array().cast("array<string>")
        df = s.df.select(
            *s.hist_cols(), F.explode(F.filter(arr, lambda x: x.isNotNull())).alias(VAL)
        )
        return self._traversal_result(s, df, "S", dtype="string")

    def _step_id(self, s: Stream) -> Stream:
        """id() (extension — TinkerPop step, not in the reference's
        whitelist): element identity as a scalar. Vertices → vid;
        edges → the reference's synthetic eid = src<<32 | dst
        (base/type.hpp:156-184 bit-pack, SURVEY.md §1.1)."""
        if s.kind == "V":
            col = F.col(VCOL).cast("bigint")
        elif s.kind == "E":
            col = eid_col()
        else:
            raise CompileError("id() applies to vertex or edge streams")
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), col.alias(VAL))
        return self._traversal_result(s, df, "S", keep_sort=True, dtype="bigint")

    def _value_map_parts(self, s: Stream, keys: tuple[str, ...]) -> tuple[Stream, list]:
        s = self._ensure_vprops(s) if s.kind == "V" else s
        all_keys = self.g.vertex_keys if s.kind == "V" else self.g.edge_keys
        use = [k for k in (keys or all_keys) if k in all_keys]
        prefix = VP if s.kind == "V" else EP
        parts = [
            F.when(
                F.col(prefix + k).isNotNull(),
                F.concat(F.lit(k + ":"), _fmt_value(F.col(prefix + k), all_keys[k])),
            )
            for k in use
        ]
        return s, parts

    def _render_map(self, s: Stream, parts: list) -> Stream:
        arr = (
            F.filter(F.array(*parts), lambda x: x.isNotNull())
            if parts
            else F.array().cast("array<string>")
        )
        val = F.concat(F.lit("{"), F.concat_ws(", ", arr), F.lit("}"))
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), val.alias(VAL))
        return self._traversal_result(s, df, "S", keep_sort=True, dtype="string")

    def _step_valueMap(self, s: Stream, *keys: str) -> Stream:
        """valueMap(k…) (extension): ONE row per element rendering all
        present properties as "{k1:v1, k2:v2}" (declared-key order;
        missing keys skipped — properties() emits one row per pair,
        valueMap keeps element arity 1:1)."""
        s, parts = self._value_map_parts(s, keys)
        return self._render_map(s, parts)

    def _step_elementMap(self, s: Stream, *keys: str) -> Stream:
        """elementMap(k…) (extension): valueMap plus identity — the
        rendered map leads with id:<id>, label:<label>."""
        if s.kind == "V":
            s = self._ensure_vprops(s)
            ident = F.col(VCOL).cast("string")
            lab = F.col(VLAB)
        elif s.kind == "E":
            ident = eid_col().cast("string")
            lab = F.col(ELAB)
        else:
            raise CompileError("elementMap() applies to vertex or edge streams")
        s, parts = self._value_map_parts(s, keys)
        lead = [
            F.concat(F.lit("id:"), ident),
            F.when(lab.isNotNull(), F.concat(F.lit("label:"), lab)),
        ]
        return self._render_map(s, lead + parts)

    def _path_cols(self, s: Stream) -> list[str]:
        return sorted(
            (c for c in s.history if c.startswith("_pp")), key=lambda c: int(c[3:])
        )

    def _step_simplePath(self, s: Stream) -> Stream:
        """simplePath() (extension): keep traversers whose recorded path
        has no repeated location — pure column arithmetic over the
        ride-along _pp columns (no join, no shuffle)."""
        pps = self._path_cols(s)
        if not pps:
            raise CompileError("simplePath(): no recorded locations")
        arr = F.array(*[F.col(c) for c in pps])
        return replace(s, df=s.df.filter(F.size(F.array_distinct(arr)) == F.size(arr)))

    def _step_cyclicPath(self, s: Stream) -> Stream:
        """cyclicPath() (extension): complement of simplePath()."""
        pps = self._path_cols(s)
        if not pps:
            raise CompileError("cyclicPath(): no recorded locations")
        arr = F.array(*[F.col(c) for c in pps])
        return replace(s, df=s.df.filter(F.size(F.array_distinct(arr)) < F.size(arr)))

    # ---------- history ----------

    def _step_as(self, s: Stream, label: str) -> Stream:
        col = AS + label
        s2 = replace(s, df=s.df.withColumn(col, s.val()), history=dict(s.history))
        s2.history[label] = col
        # record the captured value's type so select() reports it right
        s2.hist_dtype = dict(s.hist_dtype)
        s2.hist_dtype[label] = (s.dtype or "string") if s.kind == "S" else "bigint"
        return s2

    def _step_select(self, s: Stream, *labels: str) -> Stream:
        # 1 key → the recorded value; n keys → "[a:v1, b:v2]"
        # (expert/select_expert.hpp:70-138)
        for lb in labels:
            assert lb in s.history, f"select: unknown label '{lb}'"
        if len(labels) == 1:
            col = F.col(s.history[labels[0]])
            df = s.df.select(*s.hist_cols(), *s.sort_cols(), col.alias(VAL))
            dt = s.hist_dtype.get(labels[0], "bigint")
            return self._traversal_result(s, df, "S", keep_sort=True, dtype=dt)
        inner = [
            F.concat(
                F.lit(f"{lb}:"),
                _fmt_value(F.col(s.history[lb]), s.hist_dtype.get(lb, "bigint")),
            )
            for lb in labels
        ]
        val = F.concat(F.lit("["), F.concat_ws(", ", *inner), F.lit("]"))
        df = s.df.select(*s.hist_cols(), *s.sort_cols(), val.alias(VAL))
        return self._traversal_result(s, df, "S", keep_sort=True, dtype="string")

    def _step_project(self, s: Stream, keys: tuple, branches: tuple) -> Stream:
        """project(k1..kn).by(b1)…: one relational row per traverser with
        column kX computed by branch bX against that traverser (extension
        — the reference has no project(); TinkerPop semantics,
        SURVEY.md §2.7).

        - by('p') reads property p of the current element (rides the
          lazily joined vertex columns — no extra shuffle).
        - by(sub-traversal) is computed per traverser via the same
          content-hash tid as and/or/not; per-tid aggregations ride
          group_cols, so by(out().count()) is one groupBy + one join.
          Multi-valued branches keep the MINIMUM value — a deterministic
          stand-in for Gremlin's arbitrary "first".
        - a traverser missing any branch value drops (inner join) —
          by()'s fast-nothing behavior.
        - a missing trailing by() defaults to the traverser's current
          value.
        """
        if len(branches) > len(keys):
            raise CompileError("project: more by() modulators than keys")
        branches = tuple(branches) + (None,) * (len(keys) - len(branches))
        tagged, tcol = self._tagged(s, unique=True)
        spine = tagged
        cols: list[tuple[str, str]] = []
        for k, b in zip(keys, branches):
            pc = f"_pj_{k}"
            if b is None:
                spine = replace(spine, df=spine.df.withColumn(pc, spine.val()))
            elif isinstance(b, str):
                spine, col, _dt = self._prop_col(spine, b)
                spine = replace(
                    spine, df=spine.df.filter(col.isNotNull()).withColumn(pc, col)
                )
            else:
                res = self.compile(list(b), start=tagged)
                if res.kind == "G":
                    raise CompileError(
                        f"project: by-branch for {k!r} must be element- or scalar-valued"
                    )
                sub = res.df.groupBy(tcol).agg(F.min(res.val()).alias(pc))
                spine = replace(spine, df=spine.df.join(sub, tcol, "inner"))
            cols.append((pc, k))
        gcols = [c for c in s.group_cols]
        out = spine.df.select(*gcols, *[F.col(pc).alias(k) for pc, k in cols])
        return Stream(df=out, kind="G", group_cols=gcols)

    # ---------- where ----------

    def _step_where(self, s: Stream, *args: Any) -> Stream:
        """where(pred-on-labels) | where('a', pred) | where(within/without('x'))."""
        if len(args) == 1 and isinstance(args[0], Pred):
            pred = args[0]
            if pred.op in ("within", "without") and all(
                a in self.side_effects for a in pred.args
            ):
                return self._where_side_effect(s, pred)
            lhs = s.val()
            ldt = "bigint" if s.kind in ("V", "E") else s.dtype
        elif len(args) == 2 and isinstance(args[0], str):
            assert args[0] in s.history, f"where: unknown label '{args[0]}'"
            lhs, pred = F.col(s.history[args[0]]), args[1]
            ldt = s.hist_dtype.get(args[0], "bigint")
        else:
            raise ValueError(f"where: bad args {args}")
        refs = [F.col(s.history[a]) for a in pred.args]
        rdts = [s.hist_dtype.get(a, "bigint") for a in pred.args]
        return replace(
            s,
            df=s.df.filter(
                pred_to_condition(pred, lhs, other=refs, dtype=ldt, other_dtypes=rdts)
            ),
        )

    def _where_side_effect(self, s: Stream, pred: Pred) -> Stream:
        # membership vs aggregate('x') store — semi/anti join
        # (expert/where_expert.hpp:61-81,158-198).
        # No broadcast hint: a forced hint is honored until it OOMs, and
        # an aggregate('x') over a large stream would kill executors at
        # scale. AQE broadcasts small stores from runtime stats anyway
        # and falls back to a shuffle join for large ones.
        df = s.df.withColumn("_wv", s.val())
        for name in pred.args:
            # no distinct: duplicates on the store side change no
            # semi or anti join's result
            se = self.side_effects[name].select(F.col("seval").alias("_wv"))
            how = "left_semi" if pred.op == "within" else "left_anti"
            df = df.join(se, "_wv", how)
        return replace(s, df=df.drop("_wv"))

    # ---------- side effects ----------

    def _step_aggregate(self, s: Stream, name: str) -> Stream:
        # snapshot the stream into store `name`; stream passes through
        # (expert/barrier_expert.hpp:314-364).
        # The snapshot is PERSISTED at the fork: the continuing
        # traversal and every later where(within/without) anti/semi
        # join then read ONE materialized relation instead of each
        # recomputing the prefix, and — once materialized — the store
        # side carries REAL size stats, so Catalyst/AQE plans the
        # membership join from actual bytes (small store → broadcast
        # anti-join, no edge-side exchange) instead of the cached-scan
        # estimate that made it shuffle the full edge relation at sf1.
        # Default storage level spills to disk, so an oversized store
        # degrades instead of OOMing — the reference ships the store to
        # every worker (same boundedness assumption, worse failure
        # mode). The module-level LRU dedups repeated compiles (same
        # semantic plan → same cached relation, no "already cached"
        # re-registration) and BOUNDS the registry: a long-lived
        # session compiling many distinct side-effect queries evicts +
        # unpersists the coldest store instead of accumulating cached
        # relations forever (evicted stores still compute, uncached).
        #
        # The fork is COLUMN-PRUNED before the persist: a persist is a
        # materialization barrier Catalyst cannot prune through, so a
        # wide V-stream (vid + label + every vertex prop — 13 columns
        # on the TPC-H graph) would cache ~6x the bytes the downstream
        # plan reads. Vertex props re-attach lazily (_ensure_vprops
        # joins the cached vertex relation by vid), so the persisted
        # fork only needs vid + history + sort columns; this was the
        # sf1 cost behind g_aggregate_without's 2.92 scaling ratio.
        s = self._pruned_fork(s)
        df = _persisted_store(s.df)
        self.side_effects[name] = df.select(s.val().alias("seval"))
        return replace(s, df=df)

    def _pruned_fork(self, s: Stream) -> Stream:
        """Project a V-stream to vid + history + sort columns before a
        materialization point (persist), marking props detached; other
        stream kinds pass through (E/S cores are already narrow)."""
        if s.kind != "V" or not s.props:
            return s
        keep = list(dict.fromkeys([VCOL, *s.hist_cols(), *s.sort_cols()]))
        return replace(s, df=s.df.select(*keep), props=False)

    def _step_cap(self, s: Stream, *names: str) -> Stream:
        # "x:[v1, v2]" per store (expert/barrier_expert.hpp:366-430);
        # values sorted for determinism (reference emits arrival order).
        outs = []
        for name in names:
            se = self.side_effects[name]
            dtype = dict(se.dtypes)["seval"]
            outs.append(
                se.agg(
                    F.concat(
                        F.lit(name + ":["),
                        F.concat_ws(
                            ", ",
                            F.transform(
                                F.array_sort(F.collect_list("seval")),
                                lambda x: _fmt_value(x, dtype),
                            ),
                        ),
                        F.lit("]"),
                    ).alias(VAL)
                )
            )
        df = outs[0]
        for o in outs[1:]:
            df = df.unionByName(o)
        return Stream(df=df, kind="S", dtype="string")

    # ---------- barriers ----------

    def _grouped_agg(self, s: Stream, agg: Column) -> Stream:
        gcols = s.group_cols
        if gcols:
            df = s.df.groupBy(*gcols).agg(agg.alias(VAL))
        else:
            df = s.df.agg(agg.alias(VAL))
        return Stream(
            df=df, kind="S", dtype=None,
            history={c: c for c in gcols if c.startswith(TID)},
            group_cols=list(gcols),
        )

    def _step_count(self, s: Stream) -> Stream:
        # partial+final agg is Catalyst-native — the reference's
        # sender-side partial counts (core/message.cpp:336-340)
        out = self._grouped_agg(s, F.count(F.lit(1)))
        out.dtype = "bigint"
        return out

    def _math(self, s: Stream, fn: str) -> Stream:
        assert s.kind == "S", f"{fn}() needs a scalar stream"
        if s.dtype is not None and not s.dtype.startswith(self._NUM_DTYPES):
            # io_type-style plan-time rejection (core/parser.cpp:161-215)
            # instead of an ANSI cast failure mid-job
            raise CompileError(f"{fn}() needs a numeric stream, got {s.dtype}")
        col = F.col(VAL)
        agg = {"sum": F.sum, "max": F.max, "min": F.min, "mean": F.avg}[fn](col)
        # reference MATH coerces to double
        # (expert/barrier_expert.hpp:1061-1178)
        out = self._grouped_agg(s, agg.cast("double"))
        out.dtype = "double"
        return out

    def _step_sum(self, s: Stream) -> Stream:
        return self._math(s, "sum")

    def _step_max(self, s: Stream) -> Stream:
        return self._math(s, "max")

    def _step_min(self, s: Stream) -> Stream:
        return self._math(s, "min")

    def _step_mean(self, s: Stream) -> Stream:
        return self._math(s, "mean")

    def _group_key(self, s: Stream, key) -> tuple[Stream, Column, str]:
        if key is None:
            return s, s.val(), ("long" if s.kind in ("V", "E") else s.dtype or "string")
        if isinstance(key, tuple):
            return self._by_branch_col(s, key)
        return self._prop_col(s, key)

    def _by_branch_col(self, s: Stream, steps: tuple) -> tuple[Stream, Column, str]:
        """Per-traverser value of a by(sub-traversal) modulator — the
        same content-hash-tid machinery as project's traversal by():
        one partial-aggregated groupBy on the tid + one join back.
        Multi-valued branches keep the MINIMUM value (deterministic
        stand-in for Gremlin's arbitrary 'first'); traversers whose
        branch yields nothing drop (by()'s fast-nothing semantics).
        unique=True: aggregating branches must not conflate duplicate
        identical traversers (see _tagged)."""
        tagged, tcol = self._tagged(s, unique=True)
        res = self.compile(list(steps), start=tagged)
        if res.kind == "G":
            raise CompileError("by(): sub-traversal must be element- or scalar-valued")
        dt = "long" if res.kind in ("V", "E") else (res.dtype or "string")
        bc = f"_by{next(_uid)}"
        sub = res.df.groupBy(tcol).agg(F.min(res.val()).alias(bc))
        df = tagged.df.join(sub, tcol, "inner").drop(tcol)
        hist = {k: v for k, v in tagged.history.items() if v != tcol}
        out = replace(
            s, df=df, history=hist,
            group_cols=[c for c in tagged.group_cols if c != tcol],
        )
        return out, F.col(bc), dt

    def _step_groupCount(self, s: Stream, key: Optional[str] = None, relational: bool = False) -> Stream:
        # group → "key:count" strings (expert/barrier_expert.hpp:605-730)
        s, kcol, kdt = self._group_key(s, key)
        df = s.df.filter(kcol.isNotNull()) if key is not None else s.df
        gcols = [kcol.alias("_gk"), *s.group_cols]
        grouped = df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("_gc"))
        if relational:
            out = grouped.select(
                *s.group_cols, F.col("_gk").alias("key"), F.col("_gc").alias("cnt")
            )
            return Stream(df=out, kind="G", group_cols=list(s.group_cols))
        val = F.concat(_fmt_value(F.col("_gk"), kdt), F.lit(":"), F.col("_gc").cast("string"))
        out = grouped.select(*s.group_cols, val.alias(VAL))
        return Stream(df=out, kind="S", dtype="string", group_cols=list(s.group_cols))

    def _step_group(
        self,
        s: Stream,
        key: Optional[str] = None,
        value: Optional[str] = None,
        relational: bool = False,
    ) -> Stream:
        # group(k?, v?) → "key:[v1, v2]" strings; missing keys/values drop
        # the element (expert/barrier_expert.hpp:663-667)
        s, kcol, kdt = self._group_key(s, key)
        s, vcol, vdt = self._group_key(s, value)
        df = s.df
        if key is not None:
            df = df.filter(kcol.isNotNull())
        if value is not None:
            df = df.filter(vcol.isNotNull())
        gcols = [kcol.alias("_gk"), *s.group_cols]
        grouped = df.groupBy(*gcols).agg(F.array_sort(F.collect_list(vcol)).alias("_gv"))
        if relational:
            out = grouped.select(
                *s.group_cols, F.col("_gk").alias("key"), F.col("_gv").alias("vals")
            )
            return Stream(df=out, kind="G", group_cols=list(s.group_cols))
        val = F.concat(
            _fmt_value(F.col("_gk"), kdt),
            F.lit(":["),
            F.concat_ws(", ", F.transform(F.col("_gv"), lambda x: _fmt_value(x, vdt))),
            F.lit("]"),
        )
        out = grouped.select(*s.group_cols, val.alias(VAL))
        return Stream(df=out, kind="S", dtype="string", group_cols=list(s.group_cols))

    def _step_dedup(self, s: Stream, *labels: str) -> Stream:
        # distinct by current value, or by history-label tuple
        # (expert/barrier_expert.hpp:502-593).
        # The reference keeps an arbitrary arrival-order survivor; we keep
        # the content-hash-minimal row instead — same multiset semantics,
        # but DETERMINISTIC across runs, partitionings, and cluster sizes.
        keys = self._dedup_keys(s, labels)
        others = [c for c in s.df.columns if c not in keys]
        if not others:
            return replace(s, df=s.df.dropDuplicates(keys))
        w = Window.partitionBy(*keys).orderBy(F.xxhash64(*[F.col(c) for c in others]))
        df = (
            s.df.withColumn("_dd", F.row_number().over(w))
            .filter(F.col("_dd") == 1)
            .drop("_dd")
        )
        return replace(s, df=df)

    def _dedup_keys(self, s: Stream, labels: tuple[str, ...]) -> list[str]:
        if labels:
            return [*s.group_cols, *[s.history[lb] for lb in labels]]
        if s.kind == "E":
            return [*s.group_cols, ESRC, EDST]
        if s.kind == "V":
            return [*s.group_cols, VCOL]
        return [*s.group_cols, VAL]

    def _step_dedupCount(self, s: Stream, *labels: str) -> Stream:
        # fused dedup().count() — see _fuse_dedup_count
        keys = self._dedup_keys(s, labels)
        dedup = replace(s, df=s.df.select(*keys).distinct())
        return self._step_count(dedup)

    def _step_coNeqDedupCount(self, s: Stream, direction: str,
                              elabels: tuple[str, ...]) -> Stream:
        # fused as('a').out(L).in(L).where(neq('a')).dedup().count() —
        # see _fuse_co_neq_dedup_count for the equivalence argument.
        # direction is the FIRST hop ('out': intermediate = edge dst,
        # co-occurring sources = edge src; 'in': mirrored). Both scans
        # use the relation bucketed by the intermediate key, so the
        # per-neighbor aggregate reads co-partitioned data; the stream
        # side and the (small) per-neighbor stats attach as semi-join /
        # inner join that AQE broadcasts from real sizes.
        assert s is not None and s.kind == "V", \
            "coNeqDedupCount requires a vertex stream"
        mid, par = (EDST, ESRC) if direction == "out" else (ESRC, EDST)

        def _rel(by_dst):
            e = self._edges(by_dst=by_dst).select(
                F.col(mid).alias("_cnm"), F.col(par).alias("_cnp"),
                F.col(ELAB).alias("_cnl"),
            )
            if elabels:
                e = e.filter(F.col("_cnl").isin(list(elabels)))
            return e.select("_cnm", "_cnp")

        # the semi-join keys on the STREAM side (par): read the
        # relation bucketed by par so the join aligns the small vertex
        # stream to the bucketing instead of exchanging the edges
        src = s.df.select(F.col(VCOL).alias("_cnp"))
        stats = (
            _rel(by_dst=(direction != "out"))
            .join(src, "_cnp", "left_semi")
            .groupBy("_cnm")
            .agg(F.min("_cnp").alias("_cn1"), F.max("_cnp").alias("_cn2"))
        )
        # candidate enumeration keys on the NEIGHBOR side (mid): the
        # mid-bucketed relation joins the (small) per-neighbor stats
        # without an edge-side exchange
        cand_rel = _rel(by_dst=(direction == "out"))
        n_edges = getattr(self.g, "_edge_count", None)
        nb = getattr(self.g, "_n_buckets", 0)
        if n_edges is not None and n_edges >= EXPAND_MERGE_MIN_EDGES and nb:
            # bucketed store above the broadcast crossover (r9): the
            # stats aggregate comes out hash-partitioned at
            # spark.sql.shuffle.partitions, which need not equal the
            # edge tables' bucket count — EnsureRequirements then
            # re-exchanged the FULL edge side to match (measured at
            # sf1: a 6M-row / 50 MB shuffle per pass, stage-metric
            # verified). Repartitioning the SMALL stats side to
            # exactly the loader-recorded bucket count makes the join
            # read the bucketed scan in place: one extra exchange of
            # per-neighbor rows buys away the edge-relation exchange.
            # Below the crossover (or unbucketed stores, nb=0) AQE's
            # runtime broadcast already wins and the alignment would
            # only cap parallelism, so the gate mirrors the merge
            # hint's.
            stats = stats.repartition(nb, "_cnm")
        # b co-occurs with some a != b iff b is not both the least and
        # the greatest source (no distinct-count aggregate needed)
        cand = cand_rel.join(stats, "_cnm").filter(
            (F.col("_cnp") != F.col("_cn1")) | (F.col("_cnp") != F.col("_cn2"))
        )
        out = Stream(df=cand.select(F.col("_cnp").alias(VCOL)), kind="V")
        return self._step_dedupCount(out)

    def _step_order(self, s: Stream, *specs) -> Stream:
        # global sort; keyed order drops elements missing the key
        # (expert/barrier_expert.hpp:745-858);
        # order().by(sub-traversal) sorts by the per-traverser branch
        # value; chained by() modulators append secondary sort keys
        # (extension — the reference sorts on one key)
        if not specs:
            specs = ((None, True),)
        sort: list[tuple[str, bool]] = []
        for key, asc in specs:
            if key is None:
                if s.kind == "S":
                    sort.append((VAL, asc))
                    continue
                oc = ORD + str(next(_uid))
                s = replace(s, df=s.df.withColumn(oc, s.val()))
                sort.append((oc, asc))
                continue
            if isinstance(key, tuple):
                s, col, _ = self._by_branch_col(s, key)
            else:
                s, col, _ = self._prop_col(s, key)
            oc = ORD + str(next(_uid))
            s = replace(s, df=s.df.filter(col.isNotNull()).withColumn(oc, col))
            sort.append((oc, asc))
        return replace(s, sort=sort)

    #: hash buckets for the unordered two-phase slice; bounds the offset
    #: relation (one row per bucket) that gets broadcast back.
    _SLICE_BUCKETS = 256

    def _slice(self, s: Stream, start: int, end: int) -> Stream:
        """range(a,b) inclusive positional slice; b=-1 → to end
        (expert/barrier_expert.hpp:870-958). Slices follow
        the current sort if any, else a deterministic arbitrary order (the
        reference slices arrival order — nondeterministic too).

        No path puts a single-partition window over the full stream:

        - grouped slice (inside a labelled branch): window partitioned by
          the branch tid — parallel across groups.
        - ordered, bounded end: orderBy().limit(end+1) executes as
          TakeOrderedAndProject (per-partition top-k, no full sort); the
          residual skip windows over <= end+1 rows, which is
          driver-bounded — that head would be collected anyway.
        - ordered skip(n) to the end: two-phase boundary cut, see
          _ordered_skip.
        - unordered with start>0: hash-bucket two-phase, see
          _hashed_slice.
        """
        if start == 0 and end < 0:
            return s  # skip(0) / range(0,-1): identity
        if s.group_cols:
            order = (
                [F.col(c).asc() if a else F.col(c).desc() for c, a in s.sort]
                if s.sort
                else [F.monotonically_increasing_id().asc()]
            )
            w = Window.partitionBy(*s.group_cols).orderBy(*order)
            rn = F.row_number().over(w) - 1
            df = s.df.withColumn("_rn", rn)
            cond = (F.col("_rn") >= start) if end < 0 else (
                (F.col("_rn") >= start) & (F.col("_rn") <= end)
            )
            return replace(s, df=df.filter(cond).drop("_rn"))
        if s.sort:
            keys = [F.col(c).asc() if a else F.col(c).desc() for c, a in s.sort]
            if end >= 0:
                head = s.df.orderBy(*keys).limit(end + 1)
                if start == 0:
                    return replace(s, df=head)
                w = Window.orderBy(*keys)  # over <= end+1 rows only: bounded
                df = (
                    head.withColumn("_rn", F.row_number().over(w) - 1)
                    .filter(F.col("_rn") >= start)
                    .drop("_rn")
                )
                return replace(s, df=df)
            return self._ordered_skip(s, start)
        if start == 0:
            return replace(s, df=s.df.limit(end + 1))
        return self._hashed_slice(s, start, end)

    def _ordered_skip(self, s: Stream, n: int) -> Stream:
        """order().skip(n): drop the first n rows of the sort order without
        a global window. Phase 1 (tiny): TakeOrdered(n) gives the boundary
        sort value `_bk` (the n-th value) and `_bties` = how many of the
        first n rows tie with it — both deterministic regardless of which
        tied rows the top-k picked. Phase 2 (parallel): keep rows strictly
        past the boundary with a broadcast filter; among rows AT the
        boundary value keep all but `_bties`, resolved by a window
        partitioned on the sort key — only boundary ties land in one
        partition, so the hotspot is bounded by the duplicate count of a
        single value. Which tied rows survive is arbitrary (hash-ordered,
        deterministic); the reference's arrival-order slice is arbitrary
        there too. Assumes a non-null sort key (keyed order() drops
        missing keys before sorting).

        Multi-key order: the boundary cut stays on the FIRST key (rows
        strictly past it are correct under lexicographic order); among
        first-key boundary ties, the tie window orders by the REMAINING
        sort keys (then hash) so the dropped rows are exactly the first
        `_bties` under the composite order."""
        col, asc = s.sort[0]
        full = [F.col(c).asc() if a else F.col(c).desc() for c, a in s.sort]
        k = F.col(col)
        head = s.df.orderBy(*full).limit(n).select(col)
        bk = head.agg((F.max(col) if asc else F.min(col)).alias("_bk"))
        bstats = (
            head.crossJoin(F.broadcast(bk))
            .groupBy("_bk")
            .agg(F.sum(F.when(k == F.col("_bk"), 1).otherwise(0)).alias("_bties"))
        )
        joined = s.df.crossJoin(F.broadcast(bstats))
        past = joined.filter(k > F.col("_bk") if asc else k < F.col("_bk"))
        ties = joined.filter(k == F.col("_bk"))
        rest = [F.col(c).asc() if a else F.col(c).desc() for c, a in s.sort[1:]]
        wt = Window.partitionBy(col).orderBy(
            *rest, F.xxhash64(*[F.col(c) for c in s.df.columns])
        )
        keep = (
            ties.withColumn("_rn", F.row_number().over(wt))
            .filter(F.col("_rn") > F.col("_bties"))
            .drop("_rn")
        )
        return replace(s, df=past.unionByName(keep).drop("_bk", "_bties"))

    def _hashed_slice(self, s: Stream, start: int, end: int) -> Stream:
        """Unordered skip/range with start>0: a positional slice over a
        deterministic arbitrary order, two-phase. Rows hash into
        _SLICE_BUCKETS buckets; per-bucket counts roll up to cumulative
        offsets (<= _SLICE_BUCKETS rows — the only global window runs over
        that tiny relation) and broadcast back; row_numbers are computed
        per bucket in parallel, so the global position of a row is
        bucket_offset + rank_within_bucket. Deterministic for fixed input
        (content-hashed), needs no persist: the offset side only depends
        on bucket sizes."""
        nb = self._SLICE_BUCKETS
        h = F.xxhash64(*[F.col(c) for c in s.df.columns])
        df = s.df.withColumn("_sh", h).withColumn(
            "_sb", F.pmod(F.col("_sh"), F.lit(nb))
        )
        counts = df.groupBy("_sb").agg(F.count(F.lit(1)).alias("_sc"))
        woff = Window.orderBy("_sb").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            "_sb", F.coalesce(F.sum("_sc").over(woff), F.lit(0)).alias("_soff")
        )
        w = Window.partitionBy("_sb").orderBy("_sh")
        df = df.join(F.broadcast(offsets), "_sb").withColumn(
            "_rn", F.row_number().over(w) - 1 + F.col("_soff")
        )
        cond = (F.col("_rn") >= start) if end < 0 else (
            (F.col("_rn") >= start) & (F.col("_rn") <= end)
        )
        return replace(s, df=df.filter(cond).drop("_sb", "_sh", "_soff", "_rn"))

    def _step_range(self, s: Stream, a: int, b: int) -> Stream:
        return self._slice(s, a, b)

    def _step_limit(self, s: Stream, n: int) -> Stream:
        return self._slice(s, 0, n - 1)

    def _step_skip(self, s: Stream, n: int) -> Stream:
        return self._slice(s, n, -1)

    def _step_tail(self, s: Stream, n: int) -> Stream:
        """tail(n): the last n traversers of the current order (extension
        — TinkerPop semantics, not in the reference). Sorted stream:
        reverse top-k — executes as TakeOrderedAndProject (per-partition
        top-k, no global sort); the recorded sort is kept so final
        emission order is still ascending-by-the-order-key. Grouped
        (inside a labelled branch): per-group window from the end. Bare
        stream: deterministic hash-order tail — the reference's
        arrival-order slice is equally arbitrary, hash order is at least
        stable across runs (same contract as sample(n))."""
        if n <= 0:
            raise CompileError("tail: n must be positive")
        if s.group_cols:
            order = (
                [F.col(c).desc() if a else F.col(c).asc() for c, a in s.sort]
                if s.sort
                else [F.monotonically_increasing_id().desc()]
            )
            w = Window.partitionBy(*s.group_cols).orderBy(*order)
            df = (
                s.df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= n)
                .drop("_rn")
            )
            return replace(s, df=df)
        if s.sort:
            rev = [F.col(c).desc() if a else F.col(c).asc() for c, a in s.sort]
            return replace(s, df=s.df.orderBy(*rev).limit(n))
        h = F.xxhash64(*[F.col(c) for c in s.df.columns])
        return replace(s, df=s.df.orderBy(h.desc()).limit(n))

    # ---------- branches ----------

    _NUM_DTYPES = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")

    def _align_union(self, streams: list[Stream]) -> Stream:
        # io_type parity: the reference parser rejects ill-typed branch
        # merges at plan time (core/parser.cpp:161-215) — CompileError
        # here, not an analysis error deep inside unionByName
        kinds = {st.kind for st in streams}
        if len(kinds) != 1:
            raise CompileError(f"union branches must share output type: {kinds}")
        kind = kinds.pop()
        if kind == "S":
            # numeric widths may mix (Spark coerces); numeric-vs-string may not
            classes = {
                "num" if st.dtype.startswith(self._NUM_DTYPES) else st.dtype
                for st in streams
                if st.dtype is not None
            }
            if len(classes) > 1:
                raise CompileError(
                    f"union branches must share scalar dtype, got {sorted(classes)}"
                )
        shared_hist = set.intersection(*[set(st.history) for st in streams])
        hist = {lb: streams[0].history[lb] for lb in shared_hist}
        core = streams[0].core_cols() if kind != "E" else [ESRC, EDST, ELAB] + [
            EP + k for k in self.g.edge_keys
        ]
        dfs = [st.df.select(*core, *[st.history[lb] for lb in sorted(shared_hist)]) for st in streams]
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        dtype = streams[0].dtype
        return Stream(
            df=df, kind=kind, dtype=dtype, props=False, history=hist,
            group_cols=list(streams[0].group_cols),
        )

    def _step_union(self, s: Stream, *branches: Sequence[Step]) -> Stream:
        # copy input into each sub-pipeline, merge outputs
        # (expert/branch_expert.hpp:12-45).
        # With 2+ branches each sub-plan embeds the full upstream
        # subtree, so Spark would re-execute the input once PER BRANCH —
        # at sf1 that re-scan was the steepest graph-side scaling ratio
        # (2.60). Persist the stream at the fork (same LRU-managed
        # registry as aggregate()'s side-effect store) so the upstream
        # runs once and every branch reads the cached fork. Bare base
        # scans are exempt: the graph relation is already cached, and
        # persisting it again would double-cache the whole table.
        if len(branches) > 1:
            bare = any(
                s.df is getattr(self.g, attr, None)
                for attr in (
                    "_compiler_v_renamed", "_compiler_e_renamed",
                    "_compiler_e_dst_renamed",
                )
            )
            if not bare:
                # same column-prune as aggregate(): branches re-attach
                # props lazily from the cached vertex relation
                s = self._pruned_fork(s)
                s = replace(s, df=_persisted_store(s.df))
        outs = [self.compile(list(b), start=s) for b in branches]
        return self._align_union(outs)

    def _step_fold(self, s: Stream, *args) -> Stream:
        """fold() (extension — TinkerPop barrier): collapse the stream
        into ONE traverser per group holding "[v1, v2, …]" (sorted for
        determinism; same rendering as cap(), barrier_expert.hpp:366-430
        format). Vertices fold their vids; scalars their values."""
        if args:
            raise CompileError("fold() takes no arguments")
        if s.kind == "V":
            col, dtype = F.col(VCOL), "bigint"
        elif s.kind == "S":
            col, dtype = F.col(VAL), s.dtype or "string"
        else:
            raise CompileError("fold() applies to vertex or scalar streams")
        rendered = F.concat(
            F.lit("["),
            F.concat_ws(
                ", ",
                F.transform(
                    F.array_sort(F.collect_list(col)),
                    lambda x: _fmt_value(x, dtype),
                ),
            ),
            F.lit("]"),
        ).alias(VAL)
        gcols = list(s.group_cols)
        df = (
            s.df.groupBy(*gcols).agg(rendered)
            if gcols
            else s.df.agg(rendered)
        )
        return Stream(df=df, kind="S", dtype="string", group_cols=gcols)

    def _step_constant(self, s: Stream, v) -> Stream:
        """constant(v) (extension): replace every traverser's value with
        the literal — history and grouping ride along."""
        dtype = (
            "bigint" if isinstance(v, bool) is False and isinstance(v, int)
            else "double" if isinstance(v, float) else "string"
        )
        df = s.df.select(
            *s.hist_cols(), *s.sort_cols(),
            F.lit(v).cast(dtype).alias(VAL),
        )
        return self._traversal_result(s, df, "S", keep_sort=True, dtype=dtype)

    def _step_inject(self, s: Stream, *vals) -> Stream:
        """inject(v…) (extension — TinkerPop semantics): append the
        literals as NEW traversers to a scalar stream. Injected
        traversers carry no history (NULL label columns), so history
        steps (where/select/dedup('a')) treat them as label-less —
        TinkerPop's injected-traverser behavior. Literal classes must
        match the stream dtype (union typing rules)."""
        if s.kind != "S":
            raise CompileError("inject() applies to scalar streams")
        if s.group_cols:
            raise CompileError("inject() inside a labelled branch is not supported")
        if not vals:
            return s
        num = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")
        dtypes = dict(s.df.dtypes)
        if s.dtype is not None:
            want = "num" if s.dtype.startswith(num) else s.dtype
            for v in vals:
                got = (
                    "boolean"
                    if isinstance(v, bool)
                    else "num"
                    if isinstance(v, (int, float))
                    else "string" if isinstance(v, str) else type(v).__name__
                )
                if got != want:
                    raise CompileError(
                        f"inject: literal {v!r} does not match stream dtype {s.dtype}"
                    )
        spark = s.df.sparkSession
        # cast target: the stream dtype when known, else the actual VAL
        # column type (NOT a blanket 'string', which would poison a
        # numeric unionByName).
        cast = s.dtype or dtypes.get(VAL, "string")
        inj = spark.range(1).select(
            *[
                F.lit(None).cast(dtypes[c]).alias(c)
                for c in s.df.columns
                if c != VAL
            ],
            F.explode(F.array(*[F.lit(v).cast(cast) for v in vals])).alias(VAL),
        )
        return replace(s, df=s.df.unionByName(inj.select(*s.df.columns)))

    #: safety bound for repeat().until() loops; exhausting it with LIVE
    #: traversers raises a pointed CompileError (see _step_repeat).
    #: A never-satisfied condition still exits cleanly whenever the
    #: frontier empties within the bound (acyclic reachability)
    _REPEAT_MAX_ROUNDS = 20

    def _step_repeat(
        self,
        s: Stream,
        branch: Sequence[Step],
        times: int = 1,
        until: Optional[Sequence[Step]] = None,
        emit: bool = False,
    ) -> Stream:
        # reference repeat == single-pass union ("Act just as union",
        # core/parser.cpp:1305-1318); times>1 unrolling
        # and until()/emit() iteration are our parity-plus extensions
        # (TinkerPop semantics).
        outer = self._rounds
        try:
            return self._repeat_rounds(s, branch, times, until, emit)
        finally:
            self._rounds = outer

    def _repeat_rounds(
        self,
        s: Stream,
        branch: Sequence[Step],
        times: int,
        until: Optional[Sequence[Step]],
        emit: bool,
    ) -> Stream:
        # each round compiles under its own self._rounds entry, so a
        # coin() in the body (or the until() condition) draws afresh
        # every round
        outer = self._rounds
        if until is None and not emit:
            out = s
            for i in range(max(1, times)):
                self._rounds = outer + (i,)
                out = self.compile(list(branch), start=out)
            return out
        # iterative driver loop (same shape as algos.py supersteps:
        # one pass per round, localCheckpoint to truncate lineage, an
        # isEmpty() probe only when until() needs early exit)
        bound = times if (until is not None and times > 1) else (
            self._REPEAT_MAX_ROUNDS if until is not None else max(1, times)
        )
        frontier = s
        collected: list[Stream] = []
        for i in range(bound):
            self._rounds = outer + (i,)
            frontier = self.compile(list(branch), start=frontier)
            if until is None:
                collected.append(frontier)  # emit(): every position
                continue
            if emit:
                # emit()+until(): a traverser is output at EVERY round
                # it is alive (TinkerPop emit-at-each-position)
                collected.append(frontier)
            else:
                # until() alone: only the positions satisfying the exit
                # condition are output (existential sub-traversal match
                # — the same per-traverser machinery as and()/not())
                collected.append(
                    self._apply(frontier, Step("and", (tuple(until),)))
                )
            frontier = self._apply(frontier, Step("not", (tuple(until),)))
            # materialize EVERY round (algos.py posture): the frontier is
            # referenced by both the emit/until branch above and the next
            # round's compile, so an unmaterialized window grows the plan
            # multiplicatively and the per-round isEmpty() re-executes it
            frontier = replace(
                frontier, df=frontier.df.localCheckpoint(eager=True)
            )
            if frontier.df.isEmpty():
                break
        else:
            # implicit bound exhausted with live traversers (the loop
            # completes without break only when the last isEmpty() was
            # false): on a cyclic graph it would spin forever — fail
            # pointedly instead of silently discarding the stragglers.
            # An explicit times(k) keeps whichever-first semantics.
            if until is not None and times <= 1:
                raise CompileError(
                    f"repeat().until() still has live traversers after "
                    f"{bound} rounds (cyclic graph, or a condition no "
                    f"traverser satisfies); add times(k) to bound the "
                    f"loop explicitly"
                )
        return self._align_union(collected)

    def _tagged(self, s: Stream, unique: bool = False) -> tuple[Stream, str]:
        """Attach a content-hash traverser id for labelled branches.

        Two identical traversers get the same tid — semantically
        interchangeable for EXISTENTIAL tests (and/or/not, choose,
        optional, coalesce routing), so the plain content hash is safe,
        fully deterministic, and needs no caching (unlike
        monotonically_increasing_id).

        ``unique=True`` appends a row_number discriminator over the
        content hash: callers whose branches AGGREGATE per traverser
        (project/group by(sub.count()) etc.) need duplicate identical
        traversers to keep distinct tids, or the per-tid aggregate
        conflates them (count over k duplicates = k× the per-traverser
        answer). Which duplicate gets which ordinal is arbitrary among
        identical rows, so the tid MULTISET — all an aggregation can
        observe — stays deterministic; costs one exchange on the hash,
        paid only by the aggregating callers.

        Tid columns STACK for nested labelled branches (e.g. the
        where(not(…))→and([not(…)]) rewrite): each nesting level gets
        its own _tidK keyed to its own input traversers; the inner
        level's hash covers the outer tids via the history columns.

        The tid is a STRUCT of two independently-salted 64-bit hashes —
        128 effective bits, so the birthday bound sits at ~2^64 distinct
        traversers (a single 64-bit hash becomes collision-prone past
        ~10^9, reachable in a large labelled branch at cluster scale).
        h2 covers the whole history; h1 covers ``_traverser_identity``
        of it (no prepared passenger, outer tags without their h2), so
        h1 — and rn — take the same values under grouped and per-query
        execution, which coin() draws inside a branch rely on."""
        k = sum(1 for c in s.df.columns if c.startswith(TID))
        tcol = f"{TID}{k}"
        hist = s.hist_cols()
        df = s.df.withColumn(
            tcol,
            F.struct(
                F.xxhash64(s.val(), *_traverser_identity(hist)).alias("h1"),
                F.xxhash64(
                    F.lit(1), s.val(), *[F.col(c) for c in hist]
                ).alias("h2"),
            ),
        )
        if unique:
            w = Window.partitionBy(F.col(tcol)).orderBy(F.lit(1))
            df = df.withColumn(
                tcol,
                F.struct(
                    F.col(tcol)["h1"].alias("h1"),
                    F.col(tcol)["h2"].alias("h2"),
                    F.row_number().over(w).alias("rn"),
                ),
            )
        s2 = replace(s, df=df, history=dict(s.history), group_cols=list(s.group_cols))
        s2.history[tcol] = tcol
        s2.group_cols = s2.group_cols + [tcol]
        return s2, tcol

    def _labelled_filter(self, s: Stream, branches: Sequence[Sequence[Step]], mode: str) -> Stream:
        # per-traverser existential test: pass iff all/any/none branches
        # produced >=1 result for this input traverser
        # (expert/labelled_branch_expert.hpp:184-289). The branch set
        # keys on the cheapest exact key (steps.branch_key); with
        # step_reorder off every set takes the literal tid path
        branches = [list(b) for b in branches]
        key = branch_key(branches) if self._reorder() else TAGGED
        if key == INLINE:
            out = self._inline_filter(s, branches, mode)
            if out is not None:
                return out
            key = ELEMENT  # not expressible as a Column: compile it
        if key == HOP:
            assert s.kind == "V", f"{branches[0][0].name} requires vertex stream"
            sets = [self._hop_keys(b[0]) for b in branches]
            return self._key_filter(s, s.df, VCOL, VCOL, sets, mode, distinct=False)
        keyed, start, kcol, jcol = self._branch_start(s, key, branches)
        if len(branches) > 1 and self._reorder():
            # factor the branches' longest common pure prefix: Spark's
            # DAG re-executes a shared subtree once PER REFERENCE, so
            # and(out(e).hasA, out(e).hasB) paid the expansion twice.
            # With the prefix factored, suffixes that are all row-local
            # filters collapse to ONE pass over the expansion (flag
            # aggregation); other suffixes read a persisted prefix.
            limit = min(len(b) for b in branches)
            npfx = 0
            while npfx < limit:
                st0 = branches[0][npfx]
                if not STEPS[st0.name].factor:
                    break
                if any(b[npfx] != st0 for b in branches[1:]):
                    break
                npfx += 1
            if npfx:
                pre = self.compile(branches[0][:npfx], start=start)
                suffixes = [b[npfx:] for b in branches]
                passing = self._suffix_flags_filter(pre, suffixes, kcol, mode)
                if passing is not None:
                    return self._key_filter(s, keyed, kcol, jcol, [passing], "or")
                pre = self._pruned_fork(pre)
                start = replace(pre, df=_persisted_store(pre.df))
                branches = suffixes
        sets = [
            (self.compile(b, start=start) if b else start).df.select(kcol)
            for b in branches
        ]
        return self._key_filter(s, keyed, kcol, jcol, sets, mode)

    def _reorder(self) -> bool:
        return str(self.config.get("step_reorder", "true")).lower() != "false"

    def _branch_start(
        self, s: Stream, key: str, branches: list[list[Step]]
    ) -> tuple[DataFrame, Stream, str, str]:
        """(keyed stream, branch start, key column, join column) for an
        ELEMENT or TAGGED branch set. The key column rides the branch
        stream's history and group columns; the keyed stream joins the
        passing keys on the join column.

        TAGGED: ``_tagged``; identical traversers share a tid unless a
        branch draws, then each copy must flip on its own, so the tids
        are made unique. ELEMENT: the branches start from the stream's
        element projection (with the vertex props if attached), keyed
        on ``_v`` for vertices and on a struct of the edge columns (or
        the scalar) otherwise; struct equality is null-safe, so null
        edge props still match."""
        if key == TAGGED:
            tagged, tcol = self._tagged(
                s, unique=any(STEPS[n].draws for n in step_names(branches))
            )
            return tagged.df, tagged, tcol, tcol
        # named by nesting depth, not a fresh uid: the persisted prefix
        # fork is shared by plan equality, which ignores column names
        kcol = f"{KEY}{sum(c.startswith(KEY) for c in s.df.columns)}"
        if s.kind == "V":
            cols = [c for c in s.df.columns if c in (VCOL, VLAB) or c.startswith(VP)]
            keyed, kexpr, jcol = s.df, F.col(VCOL), VCOL
        else:
            cols = s.core_cols()
            keyed = s.df.withColumn(kcol, F.struct(*cols))
            kexpr, jcol = F.col(kcol), kcol
        start = Stream(
            df=keyed.select(*cols, kexpr.alias(kcol)), kind=s.kind, dtype=s.dtype,
            props=s.props and s.kind == "V", history={kcol: kcol}, group_cols=[kcol],
        )
        return keyed, start, kcol, jcol

    def _hop_keys(self, st: Step) -> DataFrame:
        """The ids of the vertices a bare hop branch moves from: the
        label-filtered edge relation's src column for out/outE, dst for
        in/inE (read from the dst-bucketed copy), both for both(). An
        edge whose other end has no vertex row still counts, as in the
        hop itself."""
        sides = {"out": (ESRC,), "outE": (ESRC,), "in": (EDST,), "inE": (EDST,)}
        keys = None
        for col in sides.get(st.name, (ESRC, EDST)):
            e = self._edges(by_dst=(col == EDST))
            if st.args:
                e = e.filter(F.col(ELAB).isin(list(st.args)))
            e = e.select(F.col(col).alias(VCOL))
            keys = e if keys is None else keys.unionByName(e)
        return keys

    def _key_filter(
        self, s: Stream, keyed: DataFrame, kcol: str, jcol: str,
        sets: list[DataFrame], mode: str, distinct: bool = True,
    ) -> Stream:
        """Keep the keyed stream's rows whose key is in all (and), any
        (or) or none (not) of the branch key sets: one shuffle for the
        whole set. The outputs are unioned (cheap, no exchange) and
        reduced once, instead of a distinct per branch plus a join per
        intersection; partial (map-side) aggregation absorbs
        high-fanout branches before the exchange. ``distinct=False``
        skips that reduce for sets that are plain relation columns."""
        if mode == "and" and len(sets) > 1:
            # a key passes iff every branch produced >=1 result: tag
            # rows with their branch ordinal and count distinct ordinals
            union = sets[0].withColumn("_br", F.lit(0))
            for i, t in enumerate(sets[1:], start=1):
                union = union.unionByName(t.withColumn("_br", F.lit(i)))
            passing = (
                union.groupBy(kcol)
                .agg(F.countDistinct("_br").alias("_nb"))
                .filter(F.col("_nb") == len(sets))
                .select(kcol)
            )
        else:
            passing = sets[0]
            for t in sets[1:]:
                passing = passing.unionByName(t)
            if distinct:
                passing = passing.distinct()
        if kcol != jcol:
            passing = passing.select(F.col(kcol).alias(jcol))
        how = "left_anti" if mode == "not" else "left_semi"
        df = keyed.join(passing, jcol, how)
        if jcol not in s.df.columns:
            df = df.drop(jcol)
        return replace(s, df=df)

    def _inline_filter(
        self, s: Stream, branches: list[list[Step]], mode: str
    ) -> Optional[Stream]:
        """and/or/not over row-filter branches as ONE boolean Column over
        the stream: no tag, no branch compile, no join back. None when a
        step cannot be expressed as a Column here."""
        got = self._row_filter_conds(s, branches, inner_ok=(mode != "not"))
        if got is None:
            return None
        ps, conds = got
        keep = conds[0]
        for c in conds[1:]:
            keep = (keep & c) if mode == "and" else (keep | c)
        df = ps.df.filter(~keep if mode == "not" else keep)
        if ps.df is not s.df and not ps.props:  # left-joined: detach again
            return replace(s, df=df.select(*s.df.columns))
        return replace(ps, df=df)

    def _suffix_flags_filter(
        self, pre: Stream, suffixes: list[list[Step]], kcol: str, mode: str
    ) -> Optional[DataFrame]:
        """When every branch suffix is a chain of row-local filters,
        evaluate the whole and()/or() in ONE pass over the factored
        prefix: per-branch boolean conditions -> the passing keys (and:
        one per-key max-flag aggregation; or: one disjunction). Returns
        None when any suffix needs the generic per-branch compile."""
        if any(not STEPS[st.name].row_filter for b in suffixes for st in b):
            return None
        got = self._row_filter_conds(pre, suffixes, inner_ok=True)
        if got is None:
            return None
        pre, conds = got
        if mode == "and" and len(conds) > 1:
            aggs = [
                F.max(F.when(c, 1).otherwise(0)).alias(f"_b{i}")
                for i, c in enumerate(conds)
            ]
            keep = pre.df.groupBy(kcol).agg(*aggs)
            for i in range(len(conds)):
                keep = keep.filter(F.col(f"_b{i}") == 1)
            return keep.select(kcol)
        any_c = conds[0]
        for c in conds[1:]:
            any_c = any_c | c
        return pre.df.filter(any_c).select(kcol)

    def _row_filter_conds(
        self, s: Stream, branches: list[list[Step]], inner_ok: bool
    ) -> Optional[tuple[Stream, list[Column]]]:
        """(stream, one null-as-false Column per branch of row filters
        over its rows), or None when a step has no Column form.

        A branch that reads the vertex row (a property or the label) of
        a props-less vertex stream fails on a row whose vertex is absent
        (dangling edge): per branch, the props attach is an INNER vertex
        join. So the props attach by inner join only when every branch
        reads the row and the caller keeps rows passing some branch
        (``inner_ok``: and/or); otherwise by a left join whose presence
        flag fails just the branches that read the row, so that not(has(k))
        and or(out(e), out(e).has(k, p)) keep their dangling rows. That
        stream comes back with ``props=False``: those rows' props are
        null, not absent."""
        reads = [any(self._reads_vertex_row(s, st) for st in b) for b in branches]
        present: Optional[Column] = None
        if inner_ok and all(reads):
            s = self._ensure_vprops(s)
        elif any(reads):
            flag = f"_vr{next(_uid)}"
            v = self._vertices().withColumn(flag, F.lit(True))
            s = replace(s, df=s.df.join(v, VCOL, "left"), props=True)
            present = F.col(flag)
        conds: list[Column] = []
        for b, needs_row in zip(branches, reads):
            cond = present if needs_row and present is not None else F.lit(True)
            for st in b:
                c = self._row_filter_condition(s, st)
                if c is None:
                    return None
                cond = cond & c
            conds.append(F.coalesce(cond, F.lit(False)))
        if present is not None:
            # rows of absent vertices carry null props: not attached
            s = replace(s, props=False)
        return s, conds

    def _reads_vertex_row(self, s: Stream, st: Step) -> bool:
        """Whether filter step ``st`` attaches the vertex row to ``s``
        (``_prop_col``'s rule: the label, or a declared vertex key)."""
        if s.kind != "V" or s.props:
            return False
        if st.name == "hasLabel":
            return True
        keys = st.args if st.name == "hasKey" else st.args[:1] if st.name in ("has", "hasNot") else ()
        return any(k == "label" or k in self.g.vertex_keys for k in keys)

    def _row_filter_condition(self, pre: Stream, st: Step) -> Optional[Column]:
        """The boolean Column a single filter step would apply to
        `pre`, mirroring the corresponding _step_* filters exactly —
        or None when the step can't be expressed without reshaping
        the stream (then the caller falls back to per-branch compile)."""
        n, a = st.name, st.args
        if n == "has":
            pred = a[1] if len(a) > 1 and a[1] is not None else P.ANY
            if not isinstance(pred, Pred):
                return None
            s2, col, dt = self._prop_col(pre, a[0])
            if s2.df is not pre.df:
                return None
            return pred_to_condition(pred, col, dtype=dt)
        if n == "hasNot":
            s2, col, _ = self._prop_col(pre, a[0])
            if s2.df is not pre.df:
                return None
            return col.isNull()
        if n == "hasKey":
            cond = F.lit(True)
            for k in a:
                s2, col, _ = self._prop_col(pre, k)
                if s2.df is not pre.df:
                    return None
                cond = cond & col.isNotNull()
            return cond
        if n == "hasLabel":
            if pre.kind == "V":
                if not pre.props:
                    return None
                return F.col(VLAB).isin(list(a))
            if pre.kind == "E":
                return F.col(ELAB).isin(list(a))
            return None
        if n == "hasId":
            if pre.kind not in ("V", "E"):
                return None
            col = F.col(VCOL) if pre.kind == "V" else pre.val()
            return pred_to_condition(a[0], col, dtype="bigint")
        if n == "is":
            if pre.kind != "S" or not isinstance(a[0], Pred):
                return None
            return pred_to_condition(a[0], F.col(VAL), dtype=pre.dtype)
        return None

    def _step_choose(
        self, s: Stream, cond: Any, true_branch: Sequence[Step],
        false_branch: Sequence[Step],
    ) -> Stream:
        """choose(pred|subquery, qTrue, qFalse): route each traverser
        through one branch (extension — not in the reference)."""
        if isinstance(cond, Pred):
            c = pred_to_condition(cond, s.val())
            true_s = replace(s, df=s.df.filter(c))
            false_s = replace(s, df=s.df.filter(~F.coalesce(c, F.lit(False))))
        else:  # existence of a sub-traversal
            tagged, tcol = self._tagged(s, unique=True)
            matched = self.compile(list(cond), start=tagged).df.select(tcol).distinct()
            hist = {k: v for k, v in tagged.history.items() if v != tcol}
            gcols = [g for g in tagged.group_cols if g != tcol]
            true_s = replace(
                tagged, df=tagged.df.join(matched, tcol, "left_semi").drop(tcol),
                history=hist, group_cols=gcols,
            )
            false_s = replace(
                tagged, df=tagged.df.join(matched, tcol, "left_anti").drop(tcol),
                history=hist, group_cols=gcols,
            )
        outs = [
            self.compile(list(true_branch), start=true_s),
            self.compile(list(false_branch), start=false_s),
        ]
        return self._align_union(outs)

    def _step_optional(self, s: Stream, branch: Sequence[Step]) -> Stream:
        """optional(q): per traverser, the branch results if any, else
        the input traverser unchanged (extension — not in the reference;
        built from the same labelled-branch machinery)."""
        tagged, tcol = self._tagged(s, unique=True)
        res = self.compile(list(branch), start=tagged)
        assert res.kind == s.kind, (
            f"optional: branch output kind {res.kind} must match input {s.kind}"
        )
        matched = res.df.select(tcol).distinct()
        shared_hist = {
            k: v for k, v in s.history.items() if k in res.history and v != tcol
        }
        core = s.core_cols()
        took = res.df.select(*core, *shared_hist.values())
        kept = tagged.df.join(matched, tcol, "left_anti").select(
            *core, *shared_hist.values()
        )
        return Stream(
            df=took.unionByName(kept), kind=s.kind, dtype=s.dtype, props=False,
            history=shared_hist,
            group_cols=[c for c in s.group_cols if c != tcol],
        )

    def _step_coalesce(self, s: Stream, *branches: Sequence[Step]) -> Stream:
        """coalesce(q1, q2, …): per traverser, the results of the FIRST
        branch that yields anything (extension — TinkerPop semantics;
        optional(q) ≡ coalesce(q, identity)). Branch k compiles from the
        traversers left unclaimed by branches 1..k-1 (anti-join on the
        content-hash tid), so later branches never recompute earlier
        matches; outputs must align in kind/dtype like union's."""
        if not branches:
            raise CompileError("coalesce: needs at least one branch")
        tagged, tcol = self._tagged(s, unique=True)
        remaining = tagged
        outs = []
        for br in branches:
            res = self.compile(list(br), start=remaining)
            outs.append(res)
            matched = res.df.select(tcol).distinct()
            remaining = replace(
                remaining,
                df=remaining.df.join(matched, tcol, "left_anti"),
                history=dict(remaining.history),
                group_cols=list(remaining.group_cols),
            )
        merged = self._align_union(outs)
        return Stream(
            df=merged.df.drop(tcol),
            kind=merged.kind,
            dtype=merged.dtype,
            props=False,
            history={k: v for k, v in merged.history.items() if k != tcol},
            group_cols=[c for c in merged.group_cols if c != tcol],
        )

    def _reposition(self, s: Stream, label: str) -> Stream:
        """Move the traverser back to the vertex bound at `label`
        (TinkerPop select('x') traverser semantics, used by match())."""
        if label not in s.history:
            raise CompileError(f"match: unknown binding '{label}'")
        df = s.df.select(*s.hist_cols(), F.col(s.history[label]).alias(VCOL))
        return Stream(
            df=df, kind="V", props=False, history=dict(s.history),
            hist_dtype=dict(s.hist_dtype), group_cols=list(s.group_cols),
        )

    def _step_match(self, s: Stream, *patterns: Sequence[Step]) -> Stream:
        """match(p1, p2, …): multi-pattern binding join (extension — the
        reference has no match(); TinkerPop-style, SURVEY.md §2.7).

        Each pattern is an anonymous traversal whose first step is
        as('x') — the start binding. A pattern ending with as('y') binds
        y to its end position if y is unbound, else becomes an equality
        constraint against the existing binding. A pattern with no
        trailing as() is a pure filter anchored at its start binding.

        The first pattern's start label binds to the incoming traverser.
        Remaining patterns run forward-chained where possible (start
        label already bound — the traverser repositions there, so
        filters push down into the pattern); a pattern whose start is
        never bound forward (e.g. the classic co-creator
        ``match(as('a').out('created').as('c'),
        as('b').out('created').as('c'))``) compiles from a full vertex
        scan instead and joins the binding relation on its shared
        labels — a BGP equi-join Catalyst is free to reorder. A pattern
        sharing NO label with the relation is a cartesian product and
        raises CompileError. Multiplicity follows join semantics: one
        row per derivation, exactly what the relational twin produces —
        downstream dedup()/count() behave like the equivalent SQL.
        """
        pats = [list(p) for p in patterns]
        if not pats:
            raise CompileError("match: needs at least one pattern")
        for p in pats:
            if not p or p[0].name != "as" or len(p) < 2:
                raise CompileError(
                    "match: every pattern must start with as('label') "
                    "and have at least one more step"
                )
        #: label → 'V' (vertex vid — can anchor a pattern) | 'S' (scalar)
        bind_kind: dict[str, str] = {
            lb: "V" for lb in s.history if not lb.startswith("_")
        }
        first = pats[0][0].args[0]
        if first in s.history:
            cur = self._reposition(s, first)
        else:
            if s.kind != "V":
                raise CompileError("match: input stream must be vertices")
            cur = self._step_as(s, first)
        bind_kind[first] = "V"
        # seed: first pattern's body runs from the incoming traverser
        pending = [pats[0][1:]] + [list(p) for p in pats[1:]]
        seeded = True
        while pending:
            if seeded:
                body, seeded = pending.pop(0), False
            else:
                idx = next(
                    (i for i, p in enumerate(pending)
                     if bind_kind.get(p[0].args[0]) == "V"), None,
                )
                if idx is None:
                    cur = self._match_floating(cur, pending.pop(0), bind_kind)
                    continue
                p = pending.pop(idx)
                body = p[1:]
                cur = self._reposition(cur, p[0].args[0])
            constrain = None
            if body and body[-1].name == "as":
                end_label = body[-1].args[0]
                if end_label in bind_kind:
                    body, constrain = body[:-1], end_label
            res = self.compile(body, start=cur) if body else cur
            if constrain is not None:
                res = replace(
                    res,
                    df=res.df.filter(
                        res.val() == F.col(res.history[constrain])
                    ),
                )
            for lb in res.history:
                if not lb.startswith("_") and lb not in bind_kind:
                    # vid-typed bindings can anchor later patterns;
                    # scalar bindings stay select()-able only
                    bind_kind[lb] = (
                        "V"
                        if res.hist_dtype.get(lb, "bigint") == "bigint"
                        else "S"
                    )
            cur = res
        return cur

    def _match_floating(
        self, cur: Stream, pat: list, bind_kind: dict[str, str]
    ) -> Stream:
        """A match() pattern with no forward-bound start: compile it
        standalone from a full V() scan and equi-join its binding
        relation with the accumulated one on the shared labels."""
        res = self.compile([Step("V")] + pat)
        new_labels = [lb for lb in res.history if not lb.startswith("_")]
        shared = [lb for lb in new_labels if lb in bind_kind]
        if not shared:
            raise CompileError(
                f"match: pattern starting at '{pat[0].args[0]}' shares no "
                f"bound label with the preceding patterns (cartesian)"
            )
        rel = res.df.select(*[res.history[lb] for lb in new_labels])
        on = [res.history[lb] for lb in shared]  # same _as_* names both sides
        hist = dict(cur.history)
        hdt = dict(cur.hist_dtype)
        for lb in new_labels:
            hist[lb] = res.history[lb]
            hdt.setdefault(lb, res.hist_dtype.get(lb, "bigint"))
            if lb not in bind_kind:
                bind_kind[lb] = (
                    "V" if res.hist_dtype.get(lb, "bigint") == "bigint" else "S"
                )
        return replace(
            cur, df=cur.df.join(rel, on, "inner"), history=hist, hist_dtype=hdt
        )

    def _step_and(self, s: Stream, *branches: Sequence[Step]) -> Stream:
        return self._labelled_filter(s, branches, "and")

    def _step_or(self, s: Stream, *branches: Sequence[Step]) -> Stream:
        return self._labelled_filter(s, branches, "or")

    def _step_not(self, s: Stream, branch: Sequence[Step]) -> Stream:
        return self._labelled_filter(s, [branch], "not")
