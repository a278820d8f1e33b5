"""tools/bench_split.py groups a perfbench result's requests by template."""

from types import SimpleNamespace

import pytest

from tools.bench_split import split


def test_split_groups_by_template_costliest_first():
    points = [SimpleNamespace(query="P0"), SimpleNamespace(query="P1")]
    adhoc = [SimpleNamespace(query="A0")]
    timed = [
        {"kind": "point", "t": 0},
        {"kind": "adhoc", "t": 0},
        {"kind": "point", "t": 1},
        {"kind": "adhoc", "t": 0},
        {"kind": "write"},
        {"kind": "point", "t": 0},
    ]
    result = {"requests": [
        [0, "point", 0.001, None], [1, "adhoc", 0.2, None],
        [2, "point", 0.002, None], [3, "adhoc", 0.4, None],
        [4, "write", 0.5, None], [5, "point", 0.003, None],
    ]}
    rows = split(result, timed, (points, adhoc))
    assert [r[0] for r in rows] == [
        "adhoc: A0", "write (append + refresh + BuildIndex + probe)",
        "point: P0", "point: P1",
    ]
    name, n, s, p50, mx = rows[0]
    assert (n, s, p50, mx) == (2, pytest.approx(600.0), pytest.approx(300.0),
                               pytest.approx(400.0))
    assert rows[2][1:] == (2, pytest.approx(4.0), pytest.approx(2.0), pytest.approx(3.0))


def test_split_rejects_a_stream_that_does_not_match():
    with pytest.raises(ValueError, match="regenerated stream"):
        split({"requests": [[0, "adhoc", 0.1, None]]}, [{"kind": "point", "t": 0}],
              ([SimpleNamespace(query="P0")], []))


def test_split_names_olap_and_curate_requests_by_name():
    timed = [{"kind": "gremlin", "name": "or_count"}, {"kind": "algo", "name": "cc"},
             {"kind": "gremlin", "name": "or_count"}]
    result = {"requests": [[0, "gremlin", 0.1, None], [1, "algo", 0.5, None],
                           [2, "gremlin", 0.3, None]]}
    rows = split(result, timed, None)
    assert [(r[0], r[1]) for r in rows] == [("algo: cc", 1), ("gremlin: or_count", 2)]
    assert rows[1][3] == pytest.approx(200.0)
    curate = split({"requests": [[0, "minhash_signature", 0.2, None]]},
                   [{"op": "minhash_signature"}], None)
    assert curate[0][:2] == ("minhash_signature", 1)
