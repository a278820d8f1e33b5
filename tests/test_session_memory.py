"""The default driver heap is sized from host memory (session.py); these
tests exercise the sizing rule only and start no JVM."""

from grasper_spark import session

GIB = 2**30


def test_default_driver_memory_is_half_the_host_clamped():
    assert session.default_driver_memory(16 * GIB) == "8g"
    # a 16 GB host reports a little under 16 GiB: round down, never up
    assert session.default_driver_memory(15.7 * GIB) == "7g"
    assert session.default_driver_memory(256 * GIB) == "32g"
    assert session.default_driver_memory(1 * GIB) == "1g"
    # memory that cannot be read keeps the old fixed default
    assert session.default_driver_memory(0) == "32g"


def test_default_driver_memory_reads_the_host(monkeypatch):
    monkeypatch.setattr(session, "_mem_bytes", lambda: 12 * GIB)
    assert session.default_driver_memory() == "6g"
    monkeypatch.setattr(session, "_mem_bytes", lambda: None)
    assert session.default_driver_memory() == "32g"


def test_mem_bytes_never_exceeds_physical_ram():
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    got = session._mem_bytes()
    assert got is not None and 0 < got <= phys


def test_driver_mem_env_override_wins(monkeypatch):
    captured = {}

    class _Builder:
        def __getattr__(self, name):
            return lambda *a, **k: self

        def config(self, key, value):
            captured[key] = value
            return self

        def getOrCreate(self):
            return None

    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_spark()
    assert captured["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    monkeypatch.setattr(session, "_mem_bytes", lambda: 10 * GIB)
    session.get_spark()
    assert captured["spark.driver.memory"] == "5g"
