"""Request streams are a pure function of the seed.

    python -m pytest perfbench/test_streams.py -q

The serve stream's value domains come from a small in-memory DuckDB
instead of the fixture tables, so no Spark session is needed."""

from __future__ import annotations

import duckdb

from perfbench import curate, olap, serve


def _con():
    con = duckdb.connect()
    con.execute("CREATE TABLE region AS SELECT 'R' || i AS r_name FROM range(5) t(i)")
    con.execute("CREATE TABLE nation AS SELECT 'N' || i AS n_name FROM range(25) t(i)")
    con.execute(
        "CREATE TABLE customer AS SELECT 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,"
        " ['AUTOMOBILE', 'BUILDING', 'MACHINERY'][1 + i % 3] AS c_mktsegment,"
        " round(i * 1.5, 2) AS c_acctbal FROM range(300) t(i)")
    con.execute("CREATE TABLE supplier AS SELECT 'S' || i AS s_name FROM range(20) t(i)")
    con.execute("CREATE TABLE part AS SELECT 'P' || i AS p_name FROM range(40) t(i)")
    return con


def _streams(seed: int) -> dict:
    return {"olap": olap.stream(seed, 4), "curate": curate.stream(seed, 4),
            "serve": serve.stream(seed, 2, _con())}


def test_same_seed_same_stream():
    assert _streams(7) == _streams(7)


def test_other_seed_changes_literals():
    a, b = _streams(7), _streams(8)
    for name in a:
        assert len(a[name]) == len(b[name])
        assert a[name] != b[name], name
    qa = [r["q"] for r in a["olap"] if r["kind"] == "gremlin"]
    qb = [r["q"] for r in b["olap"] if r["kind"] == "gremlin"]
    assert len(set(qa)) == len(qa)  # no olap string repeats within a stream
    assert len(set(qa) & set(qb)) < len(qa) // 4
    # serve writes sit at fixed request counts, with seeded edges
    wa = [i for i, r in enumerate(a["serve"]) if r["kind"] == "write"]
    wb = [i for i, r in enumerate(b["serve"]) if r["kind"] == "write"]
    assert wa == wb == [serve.WRITE_EVERY - 1, 2 * serve.WRITE_EVERY - 1]
    assert a["serve"][wa[0]]["edges"] != b["serve"][wb[0]]["edges"]
