"""SparkSession construction tuned for the engine.

Settings chosen for correctness-vs-oracle (UTC timestamps) and scale
(AQE on, skew-join handling, Arrow for the Pandas-UDF extension ops).
On a real cluster the same builder applies — only master()/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs this engine depends on to an
    EXTERNALLY-built session (e.g. the evaluation driver's): nanos
    timestamps in events.parquet and UTC rendering for oracle parity.
    Idempotent and cheap — called from the loaders."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _local_dir() -> str:
    """Scratch dir for shuffle/spill: prefer tmpfs (/dev/shm) when
    present and writable, else the system default tmp."""
    import tempfile

    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark-graft-local")
    return tempfile.gettempdir()


def _mem_bytes() -> int | None:
    """Memory this process may use: physical RAM, capped by a cgroup v2
    limit when one is set; None when neither can be read."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        total = None
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            lim = fh.read().strip()
        if lim.isdigit():
            total = min(total, int(lim)) if total else int(lim)
    except OSError:
        pass
    return total


def default_driver_memory(mem_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half of the host's memory, whole
    GiB, clamped to [1g, 32g] (32g when the memory cannot be read).

    In local mode the driver JVM is the whole cluster, so it is sized
    like the sum of executors — but a heap larger than the host lets the
    JVM grow until the kernel OOM-kills it (a 32g heap on a 16 GB host
    does). Half leaves room for the Python workers, tmpfs shuffle files
    and off-heap Arrow buffers."""
    if mem_bytes is None:
        mem_bytes = _mem_bytes()
    if not mem_bytes:
        return "32g"
    return f"{max(1, min(32, int(mem_bytes) // 2 // 2**30))}g"


def session_builder(
    app_name: str = "grasper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """A SparkSession builder with the engine's settings applied.
    ``get_spark`` and ``tools/profile_query.py`` both build from it; a
    caller may add overrides before ``getOrCreate()``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    confs = [
        # Correctness: duckdb oracle timestamps are UTC-naive.
        ("spark.sql.session.timeZone", "UTC"),
        # Scale: adaptive execution re-plans joins/partitions at runtime.
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(shuffle_partitions)),
        # Arrow: vectorized transfer for the Pandas-UDF extension operators.
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # the driver's events.parquet stores TIMESTAMP(NANOS) — read as
        # long nanos and normalize in the loader (Spark has no nanos type).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # Codegen: one pass of the OLAP templates generates ~110 classes,
        # so Spark's default cache of 100 evicts a template's classes
        # before it comes back and Janino recompiles them (a static
        # conf: it must be set before the session starts).
        ("spark.sql.codegen.cache.maxEntries", "2000"),
        # local-mode: this one JVM is the whole "cluster" — size its heap
        # like the sum of executors, not like a driver. With 8g, the
        # cached graph snapshot + persisted shingle relations from early
        # bench queries evict/GC-thrash the later ones (observed 3-4×
        # inflation on the doc_* queries at sf0.1), so the default takes
        # half the host (up to 32g; see default_driver_memory). On a
        # real cluster this knob moves to executor memory and the
        # default driver size is fine.
        (
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        ),
        # local-mode: shuffle/spill files on the virtual disk stall for
        # seconds under host I/O contention (observed 3-10× spikes on
        # shuffle-heavy queries); tmpfs makes them RAM-speed. Harmless
        # at test scale (shuffles ≪ RAM); on a real cluster local dirs
        # are NVMe and this fallback never fires.
        ("spark.local.dir", _local_dir()),
        # Multi-client fairness: concurrent queries (emu mode, notebook
        # users) round-robin stages instead of FIFO-queueing behind a
        # long scan — the analogue of the reference master's per-client
        # scheduling (driver/master.hpp:70-115).
        ("spark.scheduler.mode", "FAIR"),
        ("spark.ui.enabled", "false"),
    ]
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in confs:
        builder = builder.config(key, value)
    return builder


def get_spark(
    app_name: str = "grasper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    return session_builder(app_name, master, shuffle_partitions).getOrCreate()
