"""Fluent Python API + query-string entry point.

Mirrors the Gremlin-subset surface (/root/reference/core/parser.hpp:24-28)
as a builder producing the same Step AST the string parser emits; both
compile through GremlinCompiler.

    g = G(graph)
    g.V().has("name", P.eq("marko")).out("knows").values("age").df()
    g.query('g.V().has("name","marko").out("knows").values("age")')

Anonymous traversals for branch arguments start from ``A``::

    g.V().and_(A.out("placed").has("orderstatus", P.eq("F")),
               A.out("placed").has("totalprice", P.gt(200000.0))).values("name")
"""

from __future__ import annotations

import enum
from typing import Any, Optional

from pyspark.sql import DataFrame

from grasper_spark.graph import PropertyGraph
from grasper_spark.plans.compiler import GremlinCompiler, Step, Stream, number_coins
from grasper_spark.plans.parser import parse_query
from grasper_spark.plans.predicates import P, Pred  # noqa: F401 (re-export)
from grasper_spark.plans.steps import STEPS, param_slot, step_names


class Order(enum.Enum):
    incr = True
    decr = False


def _steps_of(x: Any) -> tuple[Step, ...]:
    if isinstance(x, Traversal):
        return tuple(x._steps)
    if isinstance(x, (list, tuple)):
        return tuple(x)
    raise TypeError(f"expected an anonymous traversal, got {type(x)}")


class Traversal:
    def __init__(
        self,
        graph: Optional[PropertyGraph],
        steps: tuple[Step, ...] = (),
        seed: int = 42,
        ctx: Optional["G"] = None,
    ):
        self._graph = graph
        self._steps = steps
        self._seed = seed
        self._ctx = ctx  # owning G handle: index store + runtime config

    def _add(self, name: str, *args: Any) -> "Traversal":
        return Traversal(
            self._graph, self._steps + (Step(name, args),), self._seed, self._ctx
        )

    # -- filters
    def has(self, key: str, pred: Any = None) -> "Traversal":
        if pred is not None and not isinstance(pred, Pred):
            pred = P.eq(pred)
        return self._add("has", key, pred) if pred is not None else self._add("has", key)

    def hasId(self, *args: Any) -> "Traversal":
        """hasId(id…) / hasId(pred) — element-id filter (TinkerPop
        parity; the reference reaches ids only via g.V(id) starts).
        Non-integer literals match nothing (ids are bigint; the
        predicate kernel class-gates them)."""
        from grasper_spark.plans.parser import ParseError

        if len(args) == 1 and isinstance(args[0], Pred):
            return self._add("hasId", args[0])
        if not args:
            raise ParseError("hasId() takes ids or one predicate")
        pred = P.eq(args[0]) if len(args) == 1 else P.within(*args)
        return self._add("hasId", pred)

    def hasNot(self, key: str) -> "Traversal":
        return self._add("hasNot", key)

    def hasKey(self, *keys: str) -> "Traversal":
        return self._add("hasKey", *keys)

    def hasValue(self, *vals: Any) -> "Traversal":
        return self._add("hasValue", *vals)

    def hasLabel(self, *labels: str) -> "Traversal":
        return self._add("hasLabel", *labels)

    def is_(self, pred: Pred) -> "Traversal":
        return self._add("is", pred)

    def where(self, *args: Any) -> "Traversal":
        if len(args) == 1 and isinstance(args[0], Traversal):
            return self._add("and", _steps_of(args[0]))
        return self._add("where", *args)

    def coin(self, p: float) -> "Traversal":
        return self._add("coin", p)

    def sample(self, n: int) -> "Traversal":
        return self._add("sample", n)

    # -- traversals
    def out(self, *labels: str) -> "Traversal":
        return self._add("out", *labels)

    def in_(self, *labels: str) -> "Traversal":
        return self._add("in", *labels)

    def both(self, *labels: str) -> "Traversal":
        return self._add("both", *labels)

    def outE(self, *labels: str) -> "Traversal":
        return self._add("outE", *labels)

    def inE(self, *labels: str) -> "Traversal":
        return self._add("inE", *labels)

    def bothE(self, *labels: str) -> "Traversal":
        return self._add("bothE", *labels)

    def outV(self) -> "Traversal":
        return self._add("outV")

    def inV(self) -> "Traversal":
        return self._add("inV")

    def bothV(self) -> "Traversal":
        return self._add("bothV")

    # -- projections / history
    def values(self, *keys: str) -> "Traversal":
        return self._add("values", *keys)

    def label(self) -> "Traversal":
        return self._add("label")

    def key(self) -> "Traversal":
        return self._add("key")

    def properties(self, *keys: str) -> "Traversal":
        return self._add("properties", *keys)

    def id(self) -> "Traversal":
        return self._add("id")

    def valueMap(self, *keys: str) -> "Traversal":
        return self._add("valueMap", *keys)

    def elementMap(self, *keys: str) -> "Traversal":
        return self._add("elementMap", *keys)

    def simplePath(self) -> "Traversal":
        return self._add("simplePath")

    def fold(self) -> "Traversal":
        return self._add("fold")

    def constant(self, v: Any) -> "Traversal":
        return self._add("constant", v)

    def inject(self, *vals: Any) -> "Traversal":
        return self._add("inject", *vals)

    def cyclicPath(self) -> "Traversal":
        return self._add("cyclicPath")

    def as_(self, label: str) -> "Traversal":
        return self._add("as", label)

    def select(self, *labels: str) -> "Traversal":
        return self._add("select", *labels)

    def project(self, *keys: str) -> "Traversal":
        """project(k1..kn): one relational row per traverser; column kX
        is filled by the X-th following by() modulator (missing by()
        defaults to the traverser's current value)."""
        if not keys or len(set(keys)) != len(keys):
            raise ValueError(f"project() needs distinct keys, got {keys}")
        return self._add("project", tuple(keys), ())

    def by(self, arg: Any = None, direction: Optional[Order] = None) -> "Traversal":
        """TinkerPop-style modulator: binds to the preceding
        project/group/groupCount/order step."""
        args: list[Any] = []
        if arg is not None:
            args.append(_steps_of(arg) if isinstance(arg, Traversal) else arg)
        if direction is not None:
            args.append(("ORDER", direction.value))
        return self._fold("by", *args)

    def path(self) -> "Traversal":
        return self._add("path")

    # -- side effects
    def aggregate(self, name: str) -> "Traversal":
        return self._add("aggregate", name)

    def store(self, name: str) -> "Traversal":
        # TinkerPop alias: lazy store ≡ aggregate under batch compilation
        return self._add("aggregate", name)

    def cap(self, *names: str) -> "Traversal":
        return self._add("cap", *names)

    # -- barriers
    def count(self) -> "Traversal":
        return self._add("count")

    def sum_(self) -> "Traversal":
        return self._add("sum")

    def max_(self) -> "Traversal":
        return self._add("max")

    def min_(self) -> "Traversal":
        return self._add("min")

    def mean(self) -> "Traversal":
        return self._add("mean")

    def group(self, key: Optional[str] = None, value: Optional[str] = None,
              relational: bool = False) -> "Traversal":
        return self._add("group", key, value, relational)

    def groupCount(self, key: Optional[str] = None, relational: bool = False) -> "Traversal":
        return self._add("groupCount", key, relational)

    def dedup(self, *labels: str) -> "Traversal":
        return self._add("dedup", *labels)

    def order(self, key: Optional[str] = None, direction: Order = Order.incr) -> "Traversal":
        return self._add("order", (key, direction.value))

    def range_(self, a: int, b: int) -> "Traversal":
        return self._add("range", a, b)

    def limit(self, n: int) -> "Traversal":
        return self._add("limit", n)

    def skip(self, n: int) -> "Traversal":
        return self._add("skip", n)

    # -- branches
    def union(self, *branches: "Traversal") -> "Traversal":
        return self._add("union", *[_steps_of(b) for b in branches])

    def coalesce(self, *branches: "Traversal") -> "Traversal":
        return self._add("coalesce", *[_steps_of(b) for b in branches])

    def tail(self, n: int) -> "Traversal":
        return self._add("tail", n)

    def repeat(self, branch: "Traversal", times: int = 1) -> "Traversal":
        return self._add("repeat", _steps_of(branch), times)

    def _fold(self, name: str, *args: Any) -> "Traversal":
        """Fold modulator ``name(*args)`` into the last step."""
        from grasper_spark.plans.parser import fold_modulator

        folded = fold_modulator(self._steps[-1] if self._steps else None, name, args)
        return Traversal(
            self._graph, self._steps[:-1] + (folded,), self._seed, self._ctx
        )

    def times(self, k: int) -> "Traversal":
        return self._fold("times", k)

    def until(self, cond: "Traversal") -> "Traversal":
        """repeat(...).until(cond): loop the repeat branch, emitting each
        traverser at the first position where the existential sub-
        traversal `cond` matches (TinkerPop do-while semantics)."""
        return self._fold("until", _steps_of(cond))

    def emit(self) -> "Traversal":
        """repeat(...).emit(): output every intermediate position."""
        return self._fold("emit")

    def and_(self, *branches: "Traversal") -> "Traversal":
        return self._add("and", *[_steps_of(b) for b in branches])

    def or_(self, *branches: "Traversal") -> "Traversal":
        return self._add("or", *[_steps_of(b) for b in branches])

    def not_(self, branch: "Traversal") -> "Traversal":
        return self._add("not", _steps_of(branch))

    def match(self, *patterns: "Traversal") -> "Traversal":
        return self._add("match", *[_steps_of(p) for p in patterns])

    def optional(self, branch: "Traversal") -> "Traversal":
        return self._add("optional", _steps_of(branch))

    def choose(self, cond: Any, true_branch: "Traversal", false_branch: "Traversal") -> "Traversal":
        c = cond if isinstance(cond, Pred) else _steps_of(cond)
        return self._add("choose", c, _steps_of(true_branch), _steps_of(false_branch))

    # -- terminals
    def _compile(self) -> tuple[GremlinCompiler, Stream]:
        assert self._graph is not None, "anonymous traversal cannot execute"
        c = GremlinCompiler(
            self._graph,
            seed=self._seed,
            index_store=self._ctx._index_store if self._ctx is not None else None,
            config=self._ctx._config if self._ctx is not None else None,
        )
        return c, c.compile(number_coins(self._steps))

    def to_subgraph(self, name: str = "subgraph"):
        """Materialize the current EDGE stream as a first-class
        PropertyGraph (TinkerPop ``subgraph('x')``, Spark-first: no
        side-effect store — the traversal IS the edge selection).

        Edges = the stream's distinct (src, dst) rows with their
        properties; vertices = the induced endpoints (semi-join against
        the base vertex table, so properties ride along). The result is
        a normal graph: run any query or algorithm on it.

        Scale: one distinct on the edge key + one semi-join — both
        shuffle on vid/src, the same keys a bucketed deployment
        co-locates (SCALE.md §Graph engine)."""
        from pyspark.sql import functions as F

        from grasper_spark.graph import PropertyGraph
        from grasper_spark.plans import compiler as C

        c, stream = self._compile()
        if stream.kind != "E":
            raise C.CompileError("to_subgraph() needs an edge stream (outE/inE/E)")
        g = self._graph
        edges = stream.df.select(
            F.col(C.ESRC).alias("src"), F.col(C.EDST).alias("dst"),
            F.col(C.ELAB).alias("label"),
            *[F.col(C.EP + k).alias(k) for k in g.edge_keys],
        ).dropDuplicates(["src", "dst"])
        ends = edges.select(F.col("src").alias("vid")).unionByName(
            edges.select(F.col("dst").alias("vid"))
        ).distinct()
        vertices = g.vertices.join(ends, "vid", "left_semi")
        return PropertyGraph(vertices, edges, name=name)

    def df(self) -> DataFrame:
        """Compile to the user-facing DataFrame (vid / (src,dst) / val).

        Repeated traversals serve the compiled plan from the owning G's
        plan cache (same cache + invalidation epoch as `G.query` string
        caching): steps are frozen dataclasses of literals/Preds/nested
        step tuples, so `repr(steps)` is a stable semantic key — worth
        ~0.4 s of py4j round trips per multi-branch query at local[32].
        Execution still runs in full; only plan CONSTRUCTION is reused
        (a DataFrame is an immutable plan, not a result)."""
        ctx, key, epoch = self._ctx, None, 0
        if ctx is not None and ctx._caching_on():
            # the graph's monotonic _gen token (never reused, unlike
            # id()) guards the one hole the epoch clear can't see: a
            # traversal captured BEFORE G.refresh() swapped the graph,
            # executed after — its old-graph plan must not be served to
            # post-refresh traversals with the same steps, even if a new
            # graph is later allocated at the freed one's address
            gen = getattr(self._graph, "_gen", None)
            k = f"steps:{gen}:{self._seed}:{self._steps!r}"
            # a default object repr would make the key identity-, not
            # semantics-based — skip caching rather than serve wrong
            if gen is not None and " object at 0x" not in k:
                key = k
                cached = ctx._plan_cache.get(key)
                if cached is not None:
                    return cached
                epoch = ctx._invalidations
        c, stream = self._compile()
        if stream.kind == "G":
            out = stream.df  # relational group output keeps its columns
        else:
            out = c.result_df(stream)
        if (
            key is not None
            and len(ctx._plan_cache) < 4096
            # same guard as G.query's auto-prepare install (api.py
            # _try_auto_prepared): a SetConfig/BuildIndex/refresh that
            # landed mid-compile cleared the cache — this plan baked in
            # the pre-invalidation state, so it must not be installed
            and ctx._invalidations == epoch
        ):
            ctx._plan_cache[key] = out
        return out

    def explain(self, mode: str = "formatted") -> None:  # pragma: no cover
        self.df().explain(mode)

    def to_list(self) -> list:
        """Collect scalar results as a python list (test helper)."""
        return [r[0] for r in self.df().collect()]

    def __repr__(self) -> str:  # pragma: no cover
        return "Traversal[" + ".".join(map(repr, self._steps)) + "]"


class _Anon:
    """Entry point for anonymous traversals (branch arguments)."""

    def __getattr__(self, name: str) -> Any:
        return getattr(Traversal(None), name)


A = _Anon()


class G:
    """Graph handle: fluent start (V/E) + string queries + commands."""

    #: SetConfig keys with wired behavior; core_bind / expert_division /
    #: stealing / data_size (thread/NUMA/memory knobs,
    #: /root/reference/expert/config_expert.hpp:38-69) are N/A under
    #: Spark's scheduler and accepted as inert. Anything else is
    #: rejected like the reference's whitelist (its else-branch help
    #: text lists exactly these keys; `seed` is our extension).
    WIRED_CONFIG = (
        "caching", "indexing", "seed", "step_reorder",
        # measured-crossover floor for the index-scan conversion: skip
        # the posting lookup when it avoids fewer than N scanned rows
        # (BENCH_FULL "index_crossover": at local[32] the conversion is
        # a wash under ~2M cached rows — compile+scheduling dominates —
        # so the reference-parity default is 0 = ratio gate only)
        "index_scan_min_avoided",
    )
    ACCEPTED_CONFIG = WIRED_CONFIG + (
        "core_bind", "expert_division", "stealing", "data_size",
    )

    #: auto-prepare: a repeated single-literal point-query SHAPE (same
    #: steps, different literal) is materialized through
    #: plans/prepared.py after this many sightings and served from the
    #: keyed result — the reference's index-store serving for ad-hoc
    #: repeated traffic, without an explicit prepare() call.
    AUTO_PREPARE_AFTER = 2
    AUTO_PREPARE_MAX = 16          # live auto-prepared templates
    AUTO_PREPARE_MAX_ROWS = 500_000

    def __init__(
        self,
        graph: PropertyGraph,
        seed: int = 42,
        cache_plans: bool = True,
        graph_loader: Any = None,
    ):
        """``graph_loader``: optional zero-arg callable returning a fresh
        :class:`PropertyGraph` — :meth:`refresh` re-loads through it so a
        growing graph (e.g. a streaming edge log,
        streaming/graph_updates.py) re-lists its files; a plain parquet
        DataFrame pins the file listing it was created with."""
        self.graph = graph
        self._graph_loader = graph_loader
        self._seed = seed
        self._config: dict[str, Any] = {}
        from grasper_spark.plans.index_store import IndexStore, load_measured_floor

        # seed the index-scan conversion floor from the last MEASURED
        # crossover (bench.py records one per run via record_crossover)
        # — absent a measurement the reference-parity default 0 stands;
        # an explicit SetConfig('index_scan_min_avoided', …) overrides
        floor = load_measured_floor()
        if floor:
            self._config["index_scan_min_avoided"] = str(floor)
        self._index_store = IndexStore()
        # compiled-plan cache: repeated query strings (console, emu
        # templates with repeated parameters) skip parse+compile+analyze
        self._cache_plans = cache_plans
        self._plan_cache: dict[str, DataFrame] = {}
        # point-shaped query strings in the plan cache -> their shape:
        # preparing or evicting a shape drops its strings' entries
        self._plan_owner: dict[str, str] = {}
        self._auto_prepared: dict[str, Any] = {}  # shape -> PreparedQuery|None
        self._shape_seen: dict[str, int] = {}
        import threading

        self._prepare_lock = threading.Lock()  # emu-style threaded query()
        self._serve_clock = 0  # LRU clock for auto-prepared eviction
        self._invalidations = 0  # bumped by _invalidate_caches (epoch)

    def V(self, *ids: int) -> Traversal:
        return Traversal(self.graph, (Step("V", tuple(ids)),), self._seed, ctx=self)

    def E(self) -> Traversal:
        return Traversal(self.graph, (Step("E"),), self._seed, ctx=self)

    def traversal(self, steps: list[Step]) -> Traversal:
        return Traversal(self.graph, tuple(steps), self._seed, ctx=self)

    def _caching_on(self) -> bool:
        return (
            self._cache_plans
            and str(self._config.get("caching", "true")).lower() != "false"
        )

    def query(self, query: str) -> DataFrame:
        """Execute a Gremlin query string / BuildIndex / SetConfig command
        (the three entry points of /root/reference/core/parser.cpp:63-112)."""
        q = query.strip()
        if q.startswith("BuildIndex"):
            return self._build_index(q)
        if q.startswith("SetConfig"):
            return self._set_config(q)
        caching = self._caching_on()
        if caching:
            df = self._plan_cache.get(q)
            if df is not None:
                self._touch(self._auto_prepared.get(self._plan_owner.get(q)))
                return df
        epoch = self._invalidations
        steps = parse_query(q)
        ps = self._point_shape(steps) if caching else None
        served = self._try_auto_prepared(ps) if ps is not None else None
        if served is not None:
            rec, df, rows = served
        else:
            rec, df, rows = None, self.traversal(steps).df(), 0
        if caching:
            self._install(q, df, epoch, ps[0] if ps else None, rec, rows)
        return df

    def _install(self, q: str, df: DataFrame, epoch: int, shape, rec, rows: int) -> None:
        """Cache ``df`` as the plan of query string ``q``.

        The epoch re-check mirrors Traversal.df: an invalidation since
        ``epoch`` means ``df`` bakes in stale state — it is served once
        but not installed. A point-shaped string is recorded against its
        shape, so the shape's entries can be dropped when it becomes
        auto-prepared (its earlier per-query plans would otherwise
        shadow the template) or is evicted. A template's served entries
        carry at most its own row count of driver rows into the JVM."""
        with self._prepare_lock:
            if len(self._plan_cache) >= 4096 or self._invalidations != epoch:
                return
            if shape is not None:
                cur = self._auto_prepared.get(shape)
                if rec is None:
                    if cur not in (None, self._BUILDING):
                        return  # the shape was prepared meanwhile
                elif cur is not rec or rec._plan_rows + rows > rec.total_rows:
                    return  # evicted meanwhile, or over the row bound
                else:
                    rec._plan_rows += rows
                self._plan_owner[q] = shape
            self._plan_cache[q] = df

    def _drop_plans(self, shape: str) -> None:
        """Drop the plan-cache entries recorded against ``shape``
        (caller holds ``_prepare_lock``)."""
        for q in [q for q, s in self._plan_owner.items() if s == shape]:
            del self._plan_owner[q]
            self._plan_cache.pop(q, None)

    def prepare(self, template: str, marker: str = "$RAND", **kw: Any):
        """Explicitly prepare a parameterized point-query template
        (plans/prepared.py): one grouped materialization job, then
        `.rows(value)` / `.df(value)` serve each parameter from the
        keyed result — the reference index store's serving posture."""
        from grasper_spark.plans.prepared import prepare as _prep

        return _prep(self, template, marker=marker, **kw)

    def _point_shape(self, steps) -> Optional[tuple]:
        """(shape_key, steps, param_idx, value) when `steps` is a
        supported 1-/2-literal point query, else None. A `g.V(id)` point
        start is rewritten to `V().hasId(eq(id))` so repeated id lookups
        — the reference's KV point-get workload — hit the serving tier
        too."""
        steps = list(steps)
        if (
            steps
            and steps[0].name == "V"
            and len(steps[0].args) == 1
            and isinstance(steps[0].args[0], int)
            and not isinstance(steps[0].args[0], bool)
        ):
            steps[0:1] = [Step("V"), Step("hasId", (P.eq(steps[0].args[0]),))]

        # (index, key, literal) of each step that can carry the parameter
        hits = [
            (i, *slot)
            for i, slot in enumerate(map(param_slot, steps))
            if slot and isinstance(slot[1], (str, int, float)) and not isinstance(slot[1], bool)
        ]
        if len(hits) not in (1, 2):
            return None
        if hits[0][0] == 0 or steps[0].name not in ("V", "E") or steps[0].args:
            return None
        # catalog checks: TOP-LEVEL steps may include barriers (served
        # with exact empty-group synthesis); NESTED steps (branch
        # sub-traversals riding along inside step args) may not — a
        # barrier pooled inside a branch changes semantics under the
        # parameter grouping (StepInfo.barrier)
        hit_idx = {h[0] for h in hits}
        for j, s2 in enumerate(steps):
            if j in hit_idx:
                continue
            if not (STEPS[s2.name].auto or STEPS[s2.name].barrier):
                return None
            if not all(STEPS[n].auto for n in step_names(s2.args)):
                return None
        # the literal's CLASS is part of the shape: a string literal on a
        # numeric-keyed template is a DIFFERENT query (the predicate
        # kernel type-gates it to empty) and must not be served from the
        # numeric materialization
        parts = []
        prev = 0
        for i, key, value in hits:
            if steps[i].name == "hasId":
                slot = "hasId(eq(?))"
            else:
                lit_cls = "num" if isinstance(value, (int, float)) else "str"
                slot = f"has({key!r},eq(?:{lit_cls}))"
            parts.append(repr(list(steps[prev:i])))
            parts.append(f"|{slot}|")
            prev = i + 1
        parts.append(repr(list(steps[prev:])))
        shape = "".join(parts)
        if len(hits) == 1:
            return shape, steps, hits[0][0], hits[0][2]
        return shape, steps, [h[0] for h in hits], tuple(h[2] for h in hits)

    #: placeholder marking a shape whose materialization is in flight —
    #: concurrent query() threads seeing it fall through to per-query
    #: execution instead of blocking on the build (a Spark job + a
    #: driver collect can take seconds; the lock only guards bookkeeping)
    _BUILDING = object()

    def _try_auto_prepared(self, ps) -> Optional[tuple]:
        """(template, DataFrame, driver_rows) when the point shape ``ps``
        (from :meth:`_point_shape`) is served by an auto-prepared
        template, else None (run it per-query)."""
        from grasper_spark.plans.prepared import PreparedQuery

        shape, steps, idx, value = ps
        rec = self._auto_prepared.get(shape, False)
        if rec is self._BUILDING:
            return None  # another thread is materializing — run per-query
        if rec is not False:
            return self._serve(shape, rec, value)
        with self._prepare_lock:
            # re-check under the lock: a concurrent query() thread may
            # have materialized (or rejected) the shape already —
            # double-building would leak the loser's persisted relation
            rec = self._auto_prepared.get(shape, False)
            if rec is self._BUILDING:
                return None
            if rec is not False:
                return self._serve(shape, rec, value)
            n = self._shape_seen.get(shape, 0) + 1
            self._shape_seen[shape] = n
            # bound the bookkeeping: long-lived sessions with endlessly
            # varied shapes must not grow driver memory without limit
            if len(self._shape_seen) > 8192:
                for k in list(self._shape_seen)[:4096]:
                    del self._shape_seen[k]
            rejected = [k for k, v in self._auto_prepared.items() if v is None]
            if len(rejected) > 1024:
                for k in rejected[:512]:
                    del self._auto_prepared[k]
            if n <= self.AUTO_PREPARE_AFTER:
                return None
            live = {
                k: v
                for k, v in self._auto_prepared.items()
                if v is not None and v is not self._BUILDING
            }
            if len(live) >= self.AUTO_PREPARE_MAX:
                # evict the least-recently-served template (close its
                # cached relation) so hot new shapes still prepare
                victim = min(live, key=lambda k: getattr(live[k], "_last_served", 0))
                live[victim].close()
                del self._auto_prepared[victim]
                self._drop_plans(victim)
            self._auto_prepared[shape] = self._BUILDING
            epoch = self._invalidations
        # materialize OUTSIDE the lock: other shapes (and other values of
        # this shape) keep executing per-query while the build runs
        settled = False
        try:
            try:
                rec = PreparedQuery(
                    self, steps=list(steps), param_idx=idx,
                    max_local_rows=self.AUTO_PREPARE_MAX_ROWS,
                )
            except Exception:
                rec = None  # shape out of scope — remembered, no retries
            with self._prepare_lock:
                if self._invalidations != epoch:
                    # the caches were invalidated mid-build (SetConfig /
                    # BuildIndex / ingest) — the result bakes in stale state
                    if rec is not None:
                        rec.close()
                    self._auto_prepared.pop(shape, None)
                    settled = True
                    return None
                self._auto_prepared[shape] = rec
                if rec is not None:
                    rec._plan_rows = 0  # driver rows held by plan-cache entries
                self._drop_plans(shape)
                settled = True
        finally:
            if not settled:
                # non-Exception unwind (KeyboardInterrupt, thread kill):
                # a leftover _BUILDING marker would disable auto-prepare
                # for this shape for the rest of the session
                with self._prepare_lock:
                    if self._auto_prepared.get(shape) is self._BUILDING:
                        del self._auto_prepared[shape]
        return self._serve(shape, rec, value)

    def _serve(self, shape: str, rec, value) -> Optional[tuple]:
        if rec is None:
            return None
        self._touch(rec)
        return (rec, *rec.serve_df(value))

    def _touch(self, rec) -> None:
        """Mark an auto-prepared template served (LRU eviction clock)."""
        if rec is not None and rec is not self._BUILDING:
            self._serve_clock += 1
            rec._last_served = self._serve_clock

    def refresh(self) -> "G":
        """Data-epoch bump after an ingest: re-load the graph (when a
        ``graph_loader`` was given) and invalidate every serving-tier
        cache — compiled plans, auto-prepared templates, any in-flight
        auto-prepare build (discarded on completion via the epoch
        check), AND built indexes: their cached posting relations were
        computed over the pre-ingest graph, so they are dropped and
        queries fall back to fresh scans until the caller re-issues
        BuildIndex (re-building eagerly per micro-batch would pay index
        jobs on every commit). The next query() sees the fresh rows.

        The reference is load-once/add-only (driver/master.hpp); at
        100 TB adds never stop, so this is the hook the streaming edge
        log (streaming/graph_updates.append_edges_stream ``on_commit``)
        drives after each committed micro-batch. Explicit
        PreparedQuery handles and their disk snapshots keep the
        caller-managed staleness contract (prepared.py)."""
        if self._graph_loader is not None:
            self.graph = self._graph_loader()
        for element, key in list(self._index_store._m):
            self._index_store.drop(element, key)
        self._invalidate_caches()
        return self

    def _invalidate_caches(self) -> None:
        # bookkeeping mutates under _prepare_lock: a concurrent query()
        # thread may be inserting a _BUILDING marker (dict-size change
        # during iteration) or installing a finished build — the epoch
        # bump and the install check must serialize, or a build that
        # straddles the invalidation would be installed stale
        with self._prepare_lock:
            self._invalidations += 1
            self._plan_cache.clear()
            self._plan_owner.clear()
            recs = [
                v
                for v in self._auto_prepared.values()
                if v is not None and v is not self._BUILDING
            ]
            # a shape that was live (or building) keeps its sighting
            # count, so its first sighting afterwards re-prepares it
            # instead of paying AUTO_PREPARE_AFTER more per-query runs;
            # a rejected shape (None) starts counting again
            self._shape_seen = {
                k: n
                for k, n in self._shape_seen.items()
                if n > self.AUTO_PREPARE_AFTER
                and self._auto_prepared.get(k, False) is not None
            }
            self._auto_prepared.clear()
        for rec in recs:  # unpersist outside the lock (py4j calls)
            rec.close()

    def profile(self, query: str) -> DataFrame:
        """Per-step execution profile of a query string: one row per
        step with its cumulative output row count and wall ms —
        TinkerPop's `profile()` as a DEBUG command (the reference has no
        profiler; its per-expert timers live in the console's timer
        dump). Driver-side by design: each prefix is compiled and
        counted as its own job, so cost is O(steps) jobs — a diagnosis
        tool for one query, not a batch operator."""
        import time

        steps = parse_query(query)
        rows = []
        for i in range(1, len(steps) + 1):
            t0 = time.perf_counter()
            try:
                n = self.traversal(steps[:i]).df().count()
            except Exception as ex:  # mid-chain modulator states etc.
                rows.append((i, steps[i - 1].name, None, None, str(ex)[:120]))
                continue
            ms = round((time.perf_counter() - t0) * 1000.0, 1)
            rows.append((i, steps[i - 1].name, n, ms, None))
        return self.graph.spark.createDataFrame(
            rows, "step int, name string, rows bigint, ms double, error string"
        )

    def _build_index(self, q: str) -> DataFrame:
        # BuildIndex(V,'key') — value→posting-list maps with a
        # selectivity-gated scan conversion at compile time
        # (/root/reference/expert/index_expert.hpp:83-144; gate
        # /root/reference/core/index_store.hpp:17). Disabled indexing
        # (SetConfig('indexing','false')) rejects the build like the
        # reference's SetIndexMap returning false.
        spark = self.graph.spark
        inner = q[q.index("(") + 1 : q.rindex(")")]
        target, key = [x.strip().strip("'\"") for x in inner.split(",")]
        if str(self._config.get("indexing", "true")).lower() == "false":
            return spark.createDataFrame([("Index is disabled",)], ["val"])
        self._index_store.build(self.graph, target, key)
        self._invalidate_caches()  # cached plans predate the index
        return spark.createDataFrame([("Index is enabled",)], ["val"])

    def _set_config(self, q: str) -> DataFrame:
        inner = q[q.index("(") + 1 : q.rindex(")")]
        k, v = [x.strip().strip("'\"") for x in inner.split(",")]
        if k not in self.ACCEPTED_CONFIG:
            # the reference whitelists config names and answers unknown
            # ones with its key list (config_expert.hpp:61-69); rejecting
            # loudly beats silently storing a typo
            raise ValueError(
                f"unknown SetConfig key {k!r}; valid keys: "
                + ", ".join(self.ACCEPTED_CONFIG)
            )
        self._config[k] = v
        if k == "seed":
            self._seed = int(v)
        # cached plans and prepared templates bake in the previous
        # config (index conversion, coin seed) — invalidate on change
        self._invalidate_caches()
        return self.graph.spark.createDataFrame([("Config modified",)], ["val"])
