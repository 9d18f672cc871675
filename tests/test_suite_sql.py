"""SQL-identity check for the correctness suite.

The golden file `suite_sql_golden.json` holds, for every SUITE entry run on
the test session over the default test tables (join order and pivot values
follow their data), the Spark SQL texts `WvletSession.run` sends (sorted, so
concurrently run flow stages compare as a multiset) and the DuckDB SQL of
`oracle_sql` (or the error it raises).  Staged view numbers (`__wv_<kind>_<n>`)
and flow run ids are normalised.  A change to the lowering shows up as a
diff of this file; rewrite it with `python tests/test_suite_sql.py --write`
once the change is intended.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "suite_sql_golden.json")
sys.path.insert(0, ROOT)


def normalise(sql: str) -> str:
    sql = re.sub(r"__wv_flow_[0-9a-f]{12}_", "__wv_flow_RUN_", sql)
    return re.sub(r"(__wv_\w+?_)\d+\b", r"\1N", sql)


def suite_sql(spark, table_dir: str) -> dict[str, dict]:
    """{entry: {"spark": [texts], "duckdb": text}} on a fresh session over
    `table_dir`, the way the test fixture builds one."""
    from pyspark.sql import SparkSession

    from wvlet_spark import WvletSession
    from wvlet_spark.suite import SUITE

    ws = WvletSession(spark, table_dir=table_dir,
                      file_base=os.path.join(HERE, "fixtures"))
    sent: list[str] = []
    real_sql = SparkSession.sql

    def recording_sql(self, sql, *a, **kw):
        sent.append(normalise(sql))
        return real_sql(self, sql, *a, **kw)

    out = {}
    SparkSession.sql = recording_sql
    try:
        for name in sorted(SUITE):
            wv = SUITE[name][0]
            del sent[:]
            with ws.scope():
                ws.run(wv)
            spark_sql = sorted(sent)
            try:
                duck = normalise(ws.oracle_sql(wv))
            except Exception as ex:  # entries with no query statement
                duck = f"{type(ex).__name__}: {ex}"
            out[name] = {"spark": spark_sql, "duckdb": duck}
    finally:
        SparkSession.sql = real_sql
    return out


def test_suite_sql_matches_golden(spark):
    from tests.conftest import SF_DIR

    with open(GOLDEN) as f:
        golden = json.load(f)
    now = suite_sql(spark, SF_DIR)
    assert sorted(now) == sorted(golden)
    for name in sorted(golden):
        assert now[name] == golden[name], name


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_suite_sql.py --write")
    import tempfile

    from tests.conftest import CPUS, SF_DIR
    from wvlet_spark.config import make_spark

    warehouse = tempfile.mkdtemp(prefix="wv_warehouse_")
    sql = suite_sql(make_spark(SF_DIR, CPUS, warehouse_dir=warehouse), SF_DIR)
    with open(GOLDEN, "w") as f:
        json.dump(sql, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")
