"""Emulator throughput harness tests (reference entry point C,
SURVEY.md §3.3)."""

from grasper_spark.emu import parse_emu_config, run_emu

CONFIG = """
5 4
2
g.V().has("name","$RAND").properties("name")  name  20
g.V().hasLabel("person").has("age",$RAND).values("name")   age    10
"""


def test_parse_config():
    seconds, parallel, templates = parse_emu_config(CONFIG)
    assert seconds == 5 and parallel == 4
    assert len(templates) == 2
    assert templates[0].key == "name" and templates[0].ratio == 20.0
    assert "$RAND" in templates[1].query


def test_run_emu_on_modern(g):
    res = run_emu(g, CONFIG, max_queries=12)
    assert res.total_queries == 12
    assert res.throughput_qps > 0
    assert res.latency_p50_ms > 0
    assert sum(res.per_template.values()) == 12
    # per-template p50s: one entry per template that actually fired
    assert set(res.per_template_p50_ms) == {
        i for i, n in res.per_template.items() if n
    }
    assert all(v > 0 for v in res.per_template_p50_ms.values())


def test_run_emu_fallback_template_measured(g):
    # sample() is not preparable → per-query mode, measured separately
    cfg = """
5 2
2
g.V().has("name","$RAND").sample(2).values("age")  name  10
g.V().has("name","$RAND").values("age")  name  10
"""
    res = run_emu(g, cfg, max_queries=10)
    assert res.template_modes[0] == "per-query"
    assert res.template_modes[1] == "prepared"
    if 0 in res.per_template_p50_ms and 1 in res.per_template_p50_ms:
        # the prepared tier serves orders of magnitude faster
        assert res.per_template_p50_ms[1] < res.per_template_p50_ms[0]
