"""Time EVERY declared driver query (queries() in __spark_entry__.py) once,
warm, at a given sf dir — the round-9 per-operator measurement sweep.

Methodology mirrors bench._measure_spark but covers the full 126-entry
pool instead of the 23 headline queries: per query, one untimed warm-up
run then min-of-REPEATS timed runs, each run forcing FULL materialization
through the noop sink (guide §1.4 — count() lets Catalyst prune projection
ops, see SCALE.md §29) and releasing any intermediates the query
checkpointed.

Usage: python tools/time_pool.py <out_json> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))

    import bench
    import __spark_entry__ as entry

    spark = bench._make_spark(sf_dir)
    pool = entry.queries()

    def run_once(fn) -> None:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        if not jmap.isEmpty():
            for rdd in jmap.values():
                rdd.unpersist()

    def steal():
        # /proc/stat steal ticks: the hypervisor preempts this VM's vCPUs
        # in bursts (SCALE.md §37) — stamp each entry so a preempted
        # measurement self-reports.  NB: a low AVERAGE over a window can
        # still hide a short 100% burst (measured round 9: a 14 s entry
        # time at 2.8% window-average steal re-measured 2.8 s quiet).
        try:
            p = open("/proc/stat").readline().split()
            return int(p[8]), sum(int(x) for x in p[1:9])
        except Exception:
            return None

    results: dict[str, float] = {}
    steals: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(pool.items()):
        spark.sparkContext.setJobDescription(f"pool:{name}")
        try:
            run_once(fn)          # warm-up, untimed
            best = float("inf")
            s0 = steal()
            for _ in range(repeats):
                t0 = time.perf_counter()
                run_once(fn)
                best = min(best, time.perf_counter() - t0)
            s1 = steal()
            results[name] = round(best, 4)
            if s0 and s1 and s1[1] > s0[1]:
                steals[name] = round(
                    (s1[0] - s0[0]) * 1000.0 / (s1[1] - s0[1]), 1)
            print(f"{name}: {results[name]}", flush=True)
        except Exception as ex:
            errors[name] = str(ex)[:200]
            print(f"{name}: ERROR {errors[name]}", flush=True)
        spark.sparkContext._jvm.System.gc()

    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "repeats": repeats,
                   "total_s": round(sum(results.values()), 4),
                   "queries": results, "steal_permille": steals,
                   "errors": errors}, f, indent=1)
    print(f"total {sum(results.values()):.1f}s over {len(results)} queries; "
          f"{len(errors)} errors -> {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
