"""Measure the sf0.1 per-action FLOOR of the bench harness directly.

The sf0.1 gate verdict has carried four rounds on an inference: "the
3x-vs-DuckDB gap at 17 MB is the fixed per-action JVM overhead of 23
queries, not plan quality".  This tool measures that floor instead of
inferring it, by timing the harness's fixed per-query work with the
QUERY ITSELF made as close to free as possible:

  floor(q) = t_compile(q)             # wvlet text -> analyzed DataFrame
           + t_noop_action            # a count() through one exchange
                                      #   (the cheapest plan that still
                                      #   schedules map+reduce stages at
                                      #   the bench's shuffle setting)
           + t_unpersist              # the harness's per-run RDD scan

measured on the exact `bench._make_spark` session (same knobs), warm,
min-of-REPEATS — mirroring _measure_spark's protocol.  Interpretation
contract (SCALE.md §34): if sum(floor) >= spark_total - 2 x duck_total
at sf0.1, the gap IS the floor and the four-round ruling is proven; if
materially below, the residual is real plan/em execution cost and must
be attacked.

Usage: python tools/bench_floor.py [sf_dir]   (default /root/testdata/sf0.1)
Prints one JSON line with per-component and per-query numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _min_of(fn, n: int) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    import bench
    from pyspark.sql import functions as F

    from wvlet_spark import WvletSession
    from wvlet_spark.ops import entry_queries
    from wvlet_spark.suite import SUITE

    spark = bench._make_spark(sf_dir)
    ws = WvletSession(spark, table_dir=sf_dir, test_mode=False)
    ext = entry_queries()

    def build(name: str):
        if name in SUITE:
            return ws.run(SUITE[name][0])
        return ext[name](spark, sf_dir)

    # warm-up: codegen, parquet footers, Python imports — untimed, like
    # _measure_spark's first pass
    for name in bench.HEADLINE:
        build(name).count()

    # (1) per-query COMPILE: text -> analyzed DataFrame, no action.
    # NB: ext entries (ops library) may run bounded driver actions during
    # build (centroid training, schema probes) — that cost is genuinely
    # per-query fixed work, so it belongs in the floor.
    compile_s: dict[str, float] = {}
    for name in bench.HEADLINE:
        compile_s[name] = round(_min_of(lambda: build(name), repeats), 4)

    # (2) NOOP ACTION: the cheapest two-stage count() at the bench's
    # shuffle setting — pure job-launch + task-schedule + stage barrier
    # cost, no data.  Also record the one-stage variant for the writeup.
    noop2_df = spark.range(64).groupBy((F.col("id") % 4).alias("k")).count()
    noop1_df = spark.range(64)
    noop_two_stage = round(_min_of(lambda: noop2_df.count(), repeats * 3), 4)
    noop_one_stage = round(_min_of(lambda: noop1_df.count(), repeats * 3), 4)

    # (3) the harness's per-run unpersist scan
    def unpersist():
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    t_unpersist = round(_min_of(unpersist, repeats * 3), 4)

    n = len(bench.HEADLINE)
    floor_total = round(sum(compile_s.values())
                        + n * (noop_two_stage + t_unpersist), 4)
    print(json.dumps({
        "metric": "sf01_per_action_floor",
        "sf_dir": sf_dir,
        "n_queries": n,
        "floor_total_s": floor_total,
        "compile_total_s": round(sum(compile_s.values()), 4),
        "noop_two_stage_s": noop_two_stage,
        "noop_one_stage_s": noop_one_stage,
        "unpersist_s": t_unpersist,
        "compile_per_query": compile_s,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
