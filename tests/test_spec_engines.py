"""Run the reference's engine-specific spec suites.

The reference splits some acceptance specs by target engine:
- spec/trino, spec/td-trino: wvlet files its Trino runner executes —
  mostly engine-agnostic queries, run here verbatim on Spark.
- spec/cdp_simple, spec/cdp_behavior: CDP-style packages (type defs with
  methods, glob parquet models, subscribe pipelines) over bundled data.
- spec/delta: a Delta-format data fixture only (no .wv files) — its
  tests live in the reference's Trino Delta plugin
  (TestingDeltaLakePlugin.scala); Spark-side Delta needs delta-spark
  (not in the frozen dependency set), but the parquet payload itself
  reads fine, which is asserted here.

The disposition table lives in COVERAGE.md §engine-specific specs.
"""

import glob
import os

import pytest

SPEC = "/root/reference/spec"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SPEC), reason="reference spec corpus not available")


def _files(sub):
    return sorted(os.path.basename(p)
                  for p in glob.glob(f"{SPEC}/{sub}/*.wv"))


@pytest.mark.parametrize("fname", _files("trino"))
def test_spec_trino_file(spark, tmp_path, fname):
    """spec/trino/*.wv verbatim (embedded `test` assertions evaluated).
    file_base points at a writable tmp dir — local-save-and-read-parquet
    writes `target/out.parquet` relative to it."""
    from wvlet_spark import WvletSession

    with open(f"{SPEC}/trino/{fname}", encoding="utf-8") as f:
        text = f.read()
    ws = WvletSession(spark, file_base=str(tmp_path), test_mode=True)
    with ws.scope() as scope:
        ws.run(text)
        assert all(ok for ok, _ in scope.test_results)


@pytest.mark.parametrize("fname", _files("td-trino"))
def test_spec_td_trino_file(spark, tmp_path, fname):
    from wvlet_spark import WvletSession

    with open(f"{SPEC}/td-trino/{fname}", encoding="utf-8") as f:
        text = f.read()
    ws = WvletSession(spark, file_base=str(tmp_path), test_mode=True)
    spark.sql("DROP TABLE IF EXISTS tmp_table")
    try:
        ws.run(text)
    finally:
        spark.sql("DROP TABLE IF EXISTS tmp_table")


def test_spec_cdp_simple(spark):
    """Type table with methods + glob-parquet model + method filter over
    the reference's bundled weblogs data."""
    from wvlet_spark import WvletSession

    base = f"{SPEC}/cdp_simple"
    with open(f"{base}/cdp_types_duckdb.wv", encoding="utf-8") as f:
        types_wv = f.read()
    with open(f"{base}/behavior.wv", encoding="utf-8") as f:
        behavior_wv = f.read()
    ws = WvletSession(spark, file_base=base, test_mode=True)
    ws.run(types_wv)
    ws.run(behavior_wv)
    total = ws.run("from weblogs count").collect()[0][0]
    valid = ws.run("from behavior_weblogs count").collect()[0][0]
    assert total > 0
    assert 0 < valid <= total


def test_spec_cdp_behavior(spark):
    """CDP behavior package: subscribe() over glob models with the type
    definitions from cdp_simple (same `package cdp`)."""
    from wvlet_spark import WvletSession

    base = f"{SPEC}/cdp_behavior"
    with open(f"{SPEC}/cdp_simple/cdp_types_duckdb.wv",
              encoding="utf-8") as f:
        types_wv = f.read()
    ws = WvletSession(spark, file_base=base, test_mode=True)
    ws.run(types_wv)
    with open(f"{base}/behavior.wv", encoding="utf-8") as f:
        df = ws.run(f.read())
    # the file ends with a subscribe() pipeline — first tick yields rows
    assert df is not None and df.count() > 0


def test_spec_cdp_customer(spark):
    from wvlet_spark import WvletSession

    base = f"{SPEC}/cdp_behavior"
    ws = WvletSession(spark, file_base=base, test_mode=True)
    with open(f"{base}/customer.wv", encoding="utf-8") as f:
        df = ws.run(f.read())
    if df is not None:
        assert df.count() >= 0


def test_spec_delta_parquet_payload(spark):
    """spec/delta ships a Delta table; full Delta reads need delta-spark
    (absent from the frozen deps) but the parquet payload reads."""
    files = glob.glob(f"{SPEC}/delta/data/www_access/*.parquet")
    if not files:
        pytest.skip("delta fixture absent")
    df = spark.read.parquet(*files)
    assert df.count() > 0
