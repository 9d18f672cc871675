"""The engine's one Spark configuration (wvlet_spark/config.py): the
settings it works out, that the test session runs them, and that no other
module builds a session."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from wvlet_spark.config import MB, default_cpus, spark_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# what bench._make_spark set before the configuration moved into the
# engine, with SPARK_GRAFT_DRIVER_MEM=2g and
# SPARK_GRAFT_DRIVER_OPTS=-XX:+UseParallelGC
COMMON = {
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.driver.memory": "2g",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "40000",
    "spark.sql.files.openCostInBytes": "1048576",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}
TOY = {
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.shuffle.partitions": "8",
}
SCALE = {
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
}

# parquet file sizes in MB; a 1 GB non-parquet file sits beside them
CASES = [
    ([10, 20, 30], 4, {**TOY, "spark.master": "local[4]"}),
    ([10, 20, 30], 32, {**TOY, "spark.master": "local[32]"}),
    ([40, 30], 4, {**SCALE, "spark.master": "local[4]",
                   "spark.sql.files.maxPartitionBytes": "5242880",
                   "spark.sql.shuffle.partitions": "8"}),
    ([40, 30], 32, {**SCALE, "spark.master": "local[32]",
                    "spark.sql.files.maxPartitionBytes": "4194304",
                    "spark.sql.shuffle.partitions": "32"}),
    ([16 << 10] * 3, 4, {**SCALE, "spark.master": "local[4]",
                         "spark.sql.files.maxPartitionBytes": "134217728",
                         "spark.sql.shuffle.partitions": "256"}),
]


def _table_dir(path, sizes_mb: list[int]) -> str:
    for i, mb in enumerate(sizes_mb + [1024]):
        name = f"t{i}.parquet" if i < len(sizes_mb) else "big.csv"
        with open(path / name, "wb") as f:
            f.truncate(mb * MB)  # sparse: only the size matters
    return str(path)


@pytest.mark.parametrize("sizes_mb,cpus,expected", CASES)
def test_spark_conf_keeps_the_measured_settings(
        sizes_mb, cpus, expected, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_OPTS", "-XX:+UseParallelGC")
    assert spark_conf(_table_dir(tmp_path, sizes_mb), cpus) == \
        {**COMMON, **expected}


def test_no_input_is_toy_sized(tmp_path):
    toy = spark_conf(_table_dir(tmp_path, [1]), 4)
    assert spark_conf(None, 4) == toy
    assert spark_conf(str(tmp_path / "missing"), 4) == toy


def test_defaults_come_from_the_environment_or_the_machine(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_OPTS", raising=False)
    conf = spark_conf(None, 2)
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert conf["spark.driver.memory"] == \
        f"{min(24 * 1024, physical // 2 // MB)}m"
    assert conf["spark.driver.extraJavaOptions"] == ""


def test_only_the_engine_builds_a_spark_session():
    builder = re.compile(r"SparkSession\s*\.\s*builder")
    found = []
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".") and d != "perfbench"]
        for name in files:
            path = os.path.join(top, name)
            if name.endswith(".py") and os.path.relpath(path, ROOT) != \
                    os.path.join("wvlet_spark", "config.py"):
                with open(path, encoding="utf-8") as f:
                    if builder.search(f.read()):
                        found.append(os.path.relpath(path, ROOT))
    assert found == []


def test_config_loads_no_pyspark():
    code = (
        "import sys\n"
        "import bench\n"
        "from wvlet_spark.config import spark_conf\n"
        "spark_conf('.', 4)\n"
        "print(sorted({m.split('.')[0] for m in sys.modules}"
        " & {'pyspark', 'pandas', 'numpy'}))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120)
    assert out.stdout.strip() == "[]"


def test_test_session_runs_the_engine_configuration(spark):
    from tests.conftest import CPUS, SF_DIR

    conf = spark_conf(SF_DIR, CPUS)
    assert spark.sparkContext.master == conf.pop("spark.master")
    assert {k: spark.conf.get(k) for k in conf} == conf
