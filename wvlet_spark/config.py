"""The engine's Spark configuration, and the one place a session is built.

`spark_conf` works out every setting from the input size and the core
count, without a JVM; `make_spark` starts (or joins) a local session with
it.  The CLI, the HTTP server, bench.py (and so perfbench), the tests and
the tools all get their session here, so the oracle tests run the
configuration users and the benchmarks run.

Environment:
- $SPARK_GRAFT_CPUS: task threads (default: the CPUs this process may use);
- $SPARK_GRAFT_DRIVER_MEM: driver heap (default: half of physical memory,
  at most 24g);
- $SPARK_GRAFT_DRIVER_OPTS: extra driver JVM options, e.g.
  -XX:+UseParallelGC: at sf100 (17 GB, 96 g heap) G1 hits
  GCLocker-starvation OOMs under 32-thread aggregation pressure and
  degrades mid-suite join times 3x; ParallelGC shows neither (round-6
  A/B, SCALE.md §24).
"""

from __future__ import annotations

import os

MB = 1024 * 1024


def default_cpus() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, physical // 2 // MB)}m"


def _input_bytes(table_dir: str | None) -> int:
    if table_dir is None:
        return 0
    try:
        return sum(
            os.path.getsize(os.path.join(table_dir, f))
            for f in os.listdir(table_dir) if f.endswith(".parquet"))
    except OSError:
        return 0


def spark_conf(table_dir: str | None, cpus: int) -> dict[str, str]:
    """Scale-aware Spark settings (see round-2 measurements in SCALE.md §8).

    Toy inputs (< ~16 MB per core, e.g. the 17 MB sf0.1 gate data) are
    dominated by per-task scheduling and shuffle setup: coarse 128 MB
    splits + eager 64 MB broadcast + few shuffle buckets win there
    (measured 15s vs 32s at sf0.1).  At real scale fine data/(cores*3)
    split sizing and the 10 MB broadcast default win instead (64 MB made
    Spark broadcast million-row tables off parquet-size estimates: 3-5x
    slower joins at sf1; AQE still upgrades small sides at runtime).
    """
    total_bytes = _input_bytes(table_dir)
    # The toy branch must capture ONLY overhead-dominated inputs (sf0.1 is
    # 17 MB): at 178 MB (sf1) the 64 MB broadcast threshold makes Spark
    # broadcast million-row tables and 8 shuffle buckets under-parallelize
    # 32 cores (measured 55s vs ~21s for the sf1 suite).
    if total_bytes < 64 * MB:
        # AQE buys nothing here (every join already broadcasts under the
        # 64 MB threshold, nothing to re-plan) and its per-stage
        # materialization barriers cost ~50-150 ms per exchange on warm
        # runs (warm-path A/B: suite 11.3 -> 9.8 s; cold min-of-3 through
        # this harness measures neutral, 8.97 vs 8.91 s).  Off for the
        # toy branch; the real-scale branch keeps AQE on (skew joins,
        # runtime re-planning — the 100 TB posture).
        max_part, bcast, shuffle = 128, 64, 8
        aqe = False
    else:
        # clamp low enough that a single ~100 MB parquet file still scans
        # ~cores-wide (splits are maxPartitionBytes byte ranges over row
        # groups); the 1 MB openCost keeps tiny files from over-splitting
        max_part = min(128, max(4, (total_bytes // (cpus * 3)) >> 20))
        # shuffle partitions scale with DATA, not just cores: cores-wide
        # buckets at sf100 (17 GB, 600 M lineitem) put ~19 M aggregation
        # groups in one task's hash state and starved the JVM (GCLocker
        # retry OOM, round-6 measured).  One bucket per ~128 MB of input
        # (round-7: q21-on 62.0 -> 33.9 s at sf100, min-of-2 interleaved
        # isolated JVMs — the 30 GB self-join spills at 256 MB buckets;
        # AQE coalesces the excess for small stages).  Below ~4 GB this
        # stays cores-wide — earlier-round sf<=10 measurements hold.
        bcast = 10
        shuffle = max(max(8, cpus), min(256, total_bytes >> 27))
        aqe = True
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": str(aqe).lower(),
        "spark.sql.adaptive.coalescePartitions.enabled": str(aqe).lower(),
        "spark.driver.memory": _driver_memory(),
        "spark.driver.extraJavaOptions":
            os.environ.get("SPARK_GRAFT_DRIVER_OPTS", ""),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # NB: do NOT set spark.cleaner.periodicGC.interval low here — a
        # 2min interval fired full 96 g-heap GC pauses INSIDE timed runs
        # (round-7 sf100 pass: with_cte and ext_exact_dedup each +7 s).
        # bench.py's explicit flush_shuffles() between queries is the disk
        # guard (blockmgr stayed <= 4 GB across the whole sf100 pass).
        "spark.sql.files.maxPartitionBytes": str(max_part * MB),
        "spark.sql.files.openCostInBytes": str(MB),
        "spark.sql.autoBroadcastJoinThreshold": str(bcast * MB),
        # prefer shuffled-hash over sort-merge when the build side fits
        # (guard: stats < threshold x shuffle.partitions, so huge inputs
        # still SMJ): skips both sort passes — measured sf10 q21 8.7->4.5s,
        # q3 3.6->2.2s, nothing regressed
        "spark.sql.join.preferSortMergeJoin": "false",
        # Arrow batch sizing for the pandas-UDF ops (minhash signatures,
        # vector math): 40k rows/batch amortizes per-batch Python+numpy
        # setup — measured sf10 signature pass 6.3->4.6s cold, 2.6->2.4s
        # warm vs the 10k default; ~40MB/batch of text, well within
        # worker memory
        "spark.sql.execution.arrow.maxRecordsPerBatch": "40000",
    }


def make_spark(table_dir: str | None = None, cpus: int | None = None, *,
               warehouse_dir: str | None = None):
    """The local SparkSession for inputs under `table_dir` on `cpus` task
    threads (an existing session is reused, as getOrCreate does)."""
    from pyspark.sql import SparkSession

    conf = spark_conf(table_dir, default_cpus() if cpus is None else cpus)
    if warehouse_dir is not None:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    spark = SparkSession.builder.appName("wvlet_spark").config(
        map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
