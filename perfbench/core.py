"""Shared machinery: launch pinning, the closed loop, statistics, the
tracer and the Spark counter readers.

Nothing here is timed work of the library; it only measures it."""

from __future__ import annotations

import decimal
import itertools
import math
import os
import re
import resource
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def launch_settings() -> dict:
    """Host-dependent settings pinned for every run (and recorded with
    it). Must be applied before pyspark launches its JVM."""
    tmp = os.path.join(DATA, "tmp")
    return {
        # get_spark() otherwise defaults to local[32]
        "SPARK_GRAFT_CPUS": str(nproc()),
        # get_spark() otherwise asks for a 32g heap
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        # G() otherwise seeds index_scan_min_avoided from whatever
        # calibration file a past bench.py run left in the cwd
        "GRASPER_SPARK_CALIBRATION": os.path.join(DATA, "index_crossover.json"),
        # keep shuffle, spill and temp files inside the checkout
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            # the status store keeps every job and stage of a run, so
            # the traced run can attribute all of them
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }


def pin_launch() -> dict:
    env = launch_settings()
    os.makedirs(os.path.join(DATA, "tmp", "spark-local"), exist_ok=True)
    os.environ.update(env)
    return env


def start_spark():
    from grasper_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc()}]",
                      shuffle_partitions=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def sentinel_ms(spark) -> float:
    """Host-speed sentinel: a fixed JVM-only job (no I/O, shuffle or
    Python), the same one bench.py records. Median of three."""
    out = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1 << 22).selectExpr("sum(id * 3 + 1)").collect()
        out.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(out)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except Exception:
        pass
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------- stats


def median_ms(xs: list[float]) -> float | None:
    return statistics.median(xs) * 1000.0 if xs else None


def tail(xs: list[float]) -> dict:
    """Highest integer percentile with at least ten samples above it,
    with that percentile and the sample count; None below 11 samples."""
    n = len(xs)
    if n < 11:
        return {"p": None, "n": n, "ms": None}
    p = min(99, math.floor(100.0 * (n - 10) / n))
    s = sorted(xs)
    # nearest-rank percentile: at least n - rank >= 10 samples beyond it
    rank = max(1, math.ceil(p / 100.0 * n))
    return {"p": p, "n": n, "ms": s[rank - 1] * 1000.0}


# --------------------------------------------------------------- tracing


class Tracer:
    """Spans (name, start, end, parent, request id) and counters, kept
    in memory and written out at the end. Off: every call is a no-op."""

    def __init__(self, on: bool = False):
        self.on = on
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._tl = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def set_request(self, rid) -> None:
        self._tl.rid = rid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        st = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "rid": getattr(self._tl, "rid", None),
               "parent": st[-1]["id"] if st else None,
               "start": time.perf_counter(), **attrs}
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            with self._lock:
                self.counts[name] += n

    def self_ms(self) -> dict:
        """Per span name: (calls, total ms, self ms). Self time is the
        span's duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            c, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
            out[s["name"]] = (c + 1, tot + d * 1e3,
                              slf + max(0.0, d - child[s["id"]]) * 1e3)
        return out


# -------------------------------------------------- py4j + Spark counters


class Py4jCounter:
    """Counts py4j round trips per thread by wrapping the gateway
    client's send_command."""

    def __init__(self, spark):
        self._tl = threading.local()
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tl = self._tl

        def send_command(*a, **kw):
            tl.n = getattr(tl, "n", 0) + 1
            return orig(*a, **kw)

        client.send_command = send_command

    def value(self) -> int:
        return getattr(self._tl, "n", 0)


_EXCHANGE = re.compile(r"^\s*[:+\-\s]*(?:\(\d+\)\s*)?(Exchange|BroadcastExchange)\b",
                       re.M)


def catalyst_stats(df) -> tuple[float, float, int]:
    """(analysis ms, optimization + planning ms, exchange count) of an
    already-executed DataFrame, read through py4j with the UI off.
    Analysis runs when the DataFrame is built; optimization and
    planning run inside its first action."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()

    def ms(ph):
        opt = phases.get(ph)
        return float(opt.get().durationMs()) if opt.isDefined() else 0.0

    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    return (ms("analysis"), ms("optimization") + ms("planning"),
            len(_EXCHANGE.findall(plan.toString())))


def collect_traced(tracer: Tracer, df, planned: bool = True) -> tuple[list, dict]:
    """Collect ``df`` inside an ``exec.collect`` span. Traced, the
    returned record also carries the plan's Catalyst ms, its exchange
    count and the collect's execution ms (the span less the planning
    that ran inside it). With ``planned`` false (a cached DataFrame,
    run again without planning) the Catalyst ms is 0."""
    with tracer.span("exec.collect") as sp:
        rows = df.collect()
    rec: dict = {}
    if sp is not None:
        analysis, lazy, exchanges = catalyst_stats(df)
        if not planned:
            analysis = lazy = 0.0
        span_ms = (sp["end"] - sp["start"]) * 1e3
        rec.update(catalyst_ms=analysis + lazy, exchanges=exchanges,
                   exec_ms=max(0.0, span_ms - lazy))
    return rows, rec


def spark_counters(spark) -> dict:
    """Per job group: jobs, tasks, shuffle-write bytes, spill bytes,
    read from the status store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_of = {}
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0),
                             sc._jvm.java.util.ArrayList())
    for i in range(stages.size()):
        sd = stages.apply(i)
        stage_of[(sd.stageId(), sd.attemptId())] = sd
    by_stage = defaultdict(list)
    for (sid, _), sd in stage_of.items():
        by_stage[sid].append(sd)
    out: dict = defaultdict(Counter)
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        grp = jd.jobGroup()
        group = grp.get() if grp.isDefined() else None
        c = out[group]
        c["jobs"] += 1
        sids = jd.stageIds()
        for j in range(sids.size()):
            for sd in by_stage.get(sids.apply(j), []):
                c["tasks"] += sd.numTasks()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def python_udf_stats(df) -> tuple[int, int]:
    """(rows returned by, bytes sent to) the Python workers of an
    executed DataFrame's MapInPandas operators."""
    plan = df._jdf.queryExecution().executedPlan()
    rows = sent = 0
    todo = [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "MapInPandasExec":
            m = node.metrics()
            rows += int(m.apply("pythonNumRowsReceived").value())
            sent += int(m.apply("pythonDataSent").value())
        ch = node.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return rows, sent


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def install_layer_spans(tracer: Tracer, py4j: Py4jCounter) -> None:
    """Wrap the library's layer entry points with spans. Only the
    benchmark's view changes: the wrapped callables run unmodified."""
    from grasper_spark.plans import api, prepared
    from grasper_spark.plans.index_store import IndexStore

    def wrap(owner, attr, name, pre=None, post=None):
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            ctx = pre(*a, **kw) if pre else None
            j0 = py4j.value()
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
            if rec is not None:
                rec["jvm_calls"] = py4j.value() - j0
            if post:
                post(ctx, out, *a, **kw)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)

    def query_pre(g, q, *a, **kw):
        q = q.strip()
        if q.startswith(("BuildIndex", "SetConfig")):
            return None
        tracer.count("api.queries")
        hit = g._caching_on() and q in g._plan_cache
        tracer.count("api.plan_cache_hits", int(hit))
        return None

    def rows_pre(pq, value, *a, **kw):
        # the grouped tier keeps no hit counters of its own (the
        # per-query tier's ``stats`` are read around the traced slice)
        v = pq._coerce_all(value)
        hit = v is None or pq._local is not None or v in pq._row_lru
        tracer.count("prepared.row_hits" if hit else "prepared.cold")

    def mat_pre(pq, *a, **kw):
        if "steps" in kw:  # G._try_auto_prepared's construction
            tracer.count("prepared.auto_builds")

    wrap(api, "parse_query", "parser.parse")
    wrap(api.G, "query", "api.query", pre=query_pre)
    wrap(api.G, "refresh", "api.refresh")
    wrap(api.Traversal, "df", "compiler.build")
    wrap(IndexStore, "build", "index.build")
    wrap(prepared.PreparedQuery, "__init__", "prepared.materialize", pre=mat_pre)
    wrap(prepared.PreparedQuery, "rows", "prepared.rows", pre=rows_pre)
    wrap(prepared.PerQueryPrepared, "rows", "prepared.rows")


# ------------------------------------------------------------ closed loop


class RWLock:
    """Reads share, a write runs alone and waiting writes go first
    (writes sit at fixed request counts, so they run in stream order
    and every read's data version is known)."""

    def __init__(self):
        self._cv = threading.Condition()
        self._readers = 0
        self._writers_waiting = 0
        self._writing = False

    @contextmanager
    def read(self):
        with self._cv:
            while self._writing or self._writers_waiting:
                self._cv.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cv:
                self._readers -= 1
                self._cv.notify_all()

    @contextmanager
    def write(self):
        with self._cv:
            self._writers_waiting += 1
            while self._writing or self._readers:
                self._cv.wait()
            self._writers_waiting -= 1
            self._writing = True
        try:
            yield
        finally:
            with self._cv:
                self._writing = False
                self._cv.notify_all()


def closed_loop(stream, execute, clients: int, seconds: float | None,
                stop_at=None) -> tuple[list[dict], float]:
    """Run ``stream`` with ``clients`` threads; each client sends its
    next request only after the previous one returned. Stops issuing
    when ``seconds`` have passed (at the next index for which
    ``stop_at(i)`` holds, when given) or the stream is exhausted.

    ``execute(i, req)`` returns a record dict; the loop adds the
    request index, latency and error. Returns (records, elapsed_s)."""
    it = iter(range(len(stream)))
    lock = threading.Lock()
    records: list[dict] = []
    t_start = time.perf_counter()
    deadline = None if seconds is None else t_start + seconds
    done = [False]

    def next_index():
        with lock:
            if done[0]:
                return None
            i = next(it, None)
            if i is None or (
                deadline is not None and time.perf_counter() >= deadline
                and (stop_at is None or stop_at(i))
            ):
                done[0] = True
                return None
            return i

    def client():
        while True:
            i = next_index()
            if i is None:
                return
            t0 = time.perf_counter()
            try:
                rec = execute(i, stream[i])
                err = None
            except Exception as ex:  # counted in error_rate
                rec, err = {}, f"{type(ex).__name__}: {str(ex)[:300]}"
            rec.update(i=i, lat=time.perf_counter() - t0, error=err)
            with lock:
                records.append(rec)

    if clients == 1:
        client()
    else:
        ts = [threading.Thread(target=client) for _ in range(clients)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    return sorted(records, key=lambda r: r["i"]), time.perf_counter() - t_start


# ------------------------------------------------------------ comparing


def norm(v):
    """Canonical form of one result value for exact comparison."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)) or hasattr(v, "asDict"):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    if hasattr(v, "item"):  # numpy scalar
        return norm(v.item())
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def canon(values) -> Counter:
    """Multiset of canonical values (fast path for plain str/float/int)."""
    return Counter(round(v, 6) if type(v) is float else
                   v if type(v) in (str, int) else norm(v) for v in values)


def same_multiset(got, want) -> bool:
    return canon(got) == canon(want)
