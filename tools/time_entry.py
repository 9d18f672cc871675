"""Time ONE declared pool entry in a fresh JVM: untimed warm-up, then
min-of-REPEATS through the noop sink, with a /proc/stat steal stamp per
rep so a hypervisor-preempted measurement self-reports (SCALE.md §37).

Usage: python tools/time_entry.py <entry> [sf_dir] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _steal():
    try:
        p = open("/proc/stat").readline().split()
        return int(p[8]), sum(int(x) for x in p[1:9])
    except Exception:
        return None


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import bench
    import __spark_entry__ as entry

    spark = bench._make_spark(sf_dir)
    fn = entry.queries()[name]

    def run_once() -> None:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    run_once()  # warm-up, untimed
    times, steals = [], []
    for _ in range(repeats):
        s0 = _steal()
        t0 = time.perf_counter()
        run_once()
        times.append(round(time.perf_counter() - t0, 3))
        s1 = _steal()
        if s0 and s1 and s1[1] > s0[1]:
            steals.append(round((s1[0] - s0[0]) * 1000.0 / (s1[1] - s0[1]), 1))
        else:
            steals.append(None)
    print(json.dumps({"entry": name, "sf_dir": sf_dir, "times": times,
                      "min_s": min(times), "steal_permille": steals}))
    spark.stop()


if __name__ == "__main__":
    main()
