"""Session settings (session.py): ``get_spark`` and the stage profiler
build from one config list, and the codegen class cache holds more than
one OLAP pass of generated classes."""

from grasper_spark import session


class _Builder:
    """Stands in for ``SparkSession.builder``: records every config."""

    def __init__(self):
        self.confs = {}

    def __getattr__(self, name):
        return lambda *a, **k: self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return None


def _confs(monkeypatch, build) -> dict:
    b = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", b)
    build()
    return b.confs


def test_profiler_session_is_get_spark_plus_the_ui(monkeypatch):
    from tools import profile_query

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    engine = _confs(monkeypatch, session.get_spark)
    prof = _confs(monkeypatch, profile_query.build_spark)
    assert engine["spark.ui.enabled"] == "false" and prof["spark.ui.enabled"] == "true"
    engine.pop("spark.ui.enabled"), prof.pop("spark.ui.enabled")
    assert prof == engine
    assert engine["spark.scheduler.mode"] == "FAIR"
    assert engine["spark.sql.codegen.cache.maxEntries"] == "2000"
    assert engine["spark.sql.shuffle.partitions"] == "4"
    assert engine["spark.driver.memory"] == session.default_driver_memory()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_template_classes_survive_other_compiles(spark):
    """A template rerun with a fresh literal after more than 100 other
    classes were compiled (Spark's default cache size) recompiles no
    more classes than a rerun with nothing in between."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    base = spark.range(200).selectExpr("id", "cast(id % 7 as string) AS s", "id % 3 AS k")

    def template(lit):
        # string literals are bound as references, not inlined, so a
        # fresh literal reuses the template's generated classes
        return (base.filter(F.col("s") == lit).groupBy("k")
                .agg(F.sum("id").alias("t"), F.max("s").alias("m"))
                .orderBy("k").collect())

    def compiled(fn) -> int:
        before = _compiles(spark)
        fn()
        return _compiles(spark) - before

    assert compiled(lambda: template("1")) > 0
    quiet = compiled(lambda: template("2"))
    # inlined integer literals: every query here generates new classes
    others = compiled(lambda: [
        spark.range(5).selectExpr(f"id * {k} + {k} AS x").collect() for k in range(3, 60)
    ])
    assert others > 100  # more than Spark's default cache holds
    assert compiled(lambda: template("3")) <= quiet
