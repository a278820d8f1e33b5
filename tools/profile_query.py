"""Ad-hoc stage-level profiler for one declared query (round-9 tuning).

Builds the same session as grasper_spark.get_spark (one builder,
``session.session_builder``) but with the Spark UI enabled, runs the
query N times against the noop sink, then dumps the completed stages
sorted by executor run time. CPU time is reported next to wall run time
so host-noise windows (a shared host's wall clock drifts 2-8x) can be
factored out.

Usage: python tools/profile_query.py <query> [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_spark():
    from grasper_spark.session import session_builder

    return (
        session_builder("profile-query")
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )


def pyloop() -> float:
    t = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    return round(time.perf_counter() - t, 2)


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_passes = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    q = entry.queries()[qname]
    t = time.perf_counter()
    df = q(spark, sf_dir)
    print(f"plan build: {time.perf_counter() - t:.2f}s", flush=True)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    print(f"pass0 (cold, incl one-time persists): {time.perf_counter() - t:.2f}s",
          flush=True)
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    def all_stages():
        return json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"))

    times = []
    marker = -1
    for i in range(n_passes):
        if i == n_passes - 1:
            marker = max((s["stageId"] for s in all_stages()), default=-1)
        spark.sparkContext.setJobDescription(f"{qname}-pass{i}")
        t = time.perf_counter()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t, 3))
    print(f"passes: {times}  pyloop sentinel: {pyloop()}", flush=True)

    # persisted-RDD storage state: eviction here means per-pass recompute
    for r in json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/storage/rdd")):
        print(f"rdd {r['id']}: {r['numCachedPartitions']}/{r['numPartitions']} "
              f"cached, mem {r['memoryUsed'] / 1e6:.0f}MB  {r['name'][:60]}")

    rows = sorted((s for s in all_stages() if s["stageId"] > marker),
                  key=lambda s: -s["executorRunTime"])
    print(f"{'stage':>5} {'run_ms':>8} {'cpu_ms':>8} {'tasks':>5} "
          f"{'in_rows':>10} {'sh_r_rows':>10} {'sh_w_rows':>10} "
          f"{'sh_w_MB':>8} {'spill_MB':>8}  name")
    for s in rows[:24]:
        print(
            f"{s['stageId']:>5} {s['executorRunTime']:>8} "
            f"{s.get('executorCpuTime', 0) // 1_000_000:>8} "
            f"{s['numCompleteTasks']:>5} {s.get('inputRecords', 0):>10} "
            f"{s.get('shuffleReadRecords', 0):>10} "
            f"{s.get('shuffleWriteRecords', 0):>10} "
            f"{s.get('shuffleWriteBytes', 0) / 1e6:>8.1f} "
            f"{(s.get('memoryBytesSpilled', 0) + s.get('diskBytesSpilled', 0)) / 1e6:>8.1f}  "
            f"{s['name'][:44]}"
        )
    # task-time quantiles for the two heaviest stages: skew diagnosis
    for s in rows[:2]:
        try:
            qs = json.load(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.0,0.5,0.9,1.0"))
            dur = [round(x / 1000, 2) for x in qs["duration"]]
            print(f"stage {s['stageId']} task secs min/p50/p90/max: {dur}")
        except Exception as ex:
            print(f"stage {s['stageId']} taskSummary failed: {ex}")


if __name__ == "__main__":
    main()
