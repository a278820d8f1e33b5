"""ADVICE r9 follow-ups.

1. dedup.py — the min-overlap pre-filter compares the integral ``common``
   count against an integer bound (⌈(t − 1e-6)·m⌉) as a long, not against
   a float literal that forced a per-pair-row cast to double.
2. bench.py — the record flags that its load phases ran overlapped.
3. __spark_entry__._tbl — concurrent load lanes settle on one table
   handle per key (``setdefault``), so identity-keyed memos downstream
   see a single DataFrame.
4. dedup.py — the pre-filter's corpus minimum and the id bounds are
   kept with the persisted shingle relation, not with the threshold, so
   callers alternating thresholds rebuild plans with no eager jobs.
"""

import os

import pytest


@pytest.mark.parametrize("threshold,bound", [(0.2, 2), (0.5, 4), (0.8, 7)])
def test_min_overlap_prefilter_bound_is_an_integer(spark, threshold, bound):
    from grasper_spark.functions import dedup as D

    rows = [(i, f"a b c d e f g h i j{i}") for i in range(4)]  # m = 8 trigrams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    D._SH_ARGS_CACHE.clear()
    D._OPS_CACHE.clear()
    out = D.overlap_pair_stats(df, min_overlap_frac=threshold)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    (line,) = [x for x in plan.splitlines() if "Filter" in x and "common#" in x]
    assert f">= {bound})" in line and "double" not in line, line
    # every pair shares 7 of 8 trigrams: kept exactly when 7 ≥ the bound
    assert out.count() == (6 if 7 >= bound else 0)


def test_bench_record_marks_overlapped_load_phases():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as fh:
        src = fh.read()
    assert '"load_phases_overlapped": True' in src
    compact = src.split("compact = {", 1)[1].split("}", 1)[0]
    assert "load_phases_overlapped" not in compact


def test_tbl_cache_concurrent_callers_share_one_handle(spark, tmp_path):
    import sys
    import threading

    import __spark_entry__ as entry

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    key = (id(spark), str(tmp_path), "t")
    entry._TBL_CACHE.pop(key, None)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    got, start = [], threading.Barrier(8)

    def lane():
        start.wait(timeout=30)
        got.append(entry._tbl(spark, str(tmp_path), "t"))

    try:
        threads = [threading.Thread(target=lane) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        entry._TBL_CACHE.pop(key, None)
    assert len(got) == 8 and all(df is got[0] for df in got)


def _cold_dedup_caches():
    from grasper_spark.functions import dedup as D

    for slot in (D._SH_PERSISTED, D._SZ_PERSISTED):
        while slot:
            slot.pop()[1].unpersist()
    for memo in (D._SH_ARGS_CACHE, D._OPS_CACHE):
        memo.clear()
    D._REL_SCALARS.clear()


def test_alternating_thresholds_rerun_no_scalar_jobs(spark):
    import uuid

    from grasper_spark.functions import dedup as D

    words = "a b c d e f g h i j k l".split()
    # shifted windows: pairs share from 0 to 4 trigrams
    rows = [(i, " ".join(words[i % 6: i % 6 + 6]) + f" x{i % 4}") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairs(t):
        return sorted(map(tuple, D.overlap_pair_stats(df, min_overlap_frac=t).collect()))

    cold = {}
    for t in (0.2, 0.5):
        _cold_dedup_caches()
        cold[t] = pairs(t)
    assert cold[0.2] != cold[0.5]  # the thresholds differ in the pairs they keep

    _cold_dedup_caches()
    sc = spark.sparkContext
    for t in (0.2, 0.5, 0.2):
        gid = f"ops-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, gid)
        try:
            out = D.overlap_pair_stats(df, min_overlap_frac=t)
        finally:
            sc._jsc.clearJobGroup()
        built_jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
        assert sorted(map(tuple, out.collect())) == cold[t], t
    assert built_jobs == 0  # the third call, at 0.2 after 0.5
