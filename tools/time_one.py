"""Time ONE suite query ONCE in a fresh JVM and print JSON.

Why per-process: shuffle files of finished jobs accumulate in
spark.local.dir until the ContextCleaner happens to reap them (async,
weak-ref-driven — two round-7 sf100 A/B attempts died on ENOSPC from
exactly this), so back-to-back sf100 measurements in one JVM are
disk-unbounded.  A fresh JVM per measured run caps disk at a single
run's shuffle and deletes everything on exit.  The printed time
includes one untimed warm-up execution inside the same JVM, so codegen
and footer reads are excluded from the measured run.

Usage: python tools/time_one.py <sf_dir> <query> <on|off>
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    sf_dir, name, variant = sys.argv[1], sys.argv[2], sys.argv[3]
    os.environ["WVLET_SPARK_JOIN_REORDER"] = "1" if variant == "on" else "0"

    import bench
    from wvlet_spark import WvletSession
    from wvlet_spark.suite import SUITE

    spark = bench._make_spark(sf_dir)
    ws = WvletSession(spark, table_dir=sf_dir, test_mode=False)
    sql = ws.compile_to_sql(SUITE[name][0])
    spark.sql(sql).count()                 # warm-up, untimed
    t0 = time.perf_counter()
    n = spark.sql(sql).count()
    dt = time.perf_counter() - t0
    print(json.dumps({"query": name, "variant": variant,
                      "s": round(dt, 3), "rows": n}))


if __name__ == "__main__":
    main()
