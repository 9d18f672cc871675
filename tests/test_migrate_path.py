"""The SQL-migration path (`sql_to_wvlet` -> `compile_to_sql`), JVM-free:
the shared parser connection, SQL passed to it as a quoted literal,
128-bit constants, and what the compile path imports."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import warnings
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from wvlet_spark import sql_import
from wvlet_spark.generator import CompileError
from wvlet_spark.session import WvletSession
from wvlet_spark.sql_import import SqlImportError, sql_to_wvlet

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LITERALS = [
    "select 'it''s' as a",
    "select '''' as a, '' as b",
    "select 'back\\slash' as a, 'end\\' as b",
    "select '$1' as a, '?' as b, 'x = ?' as c",
    "select '-- not a comment' as a, '/* nor this */' as b",
    "select 'line one\nline two' as a",
    "select 'naïve café 東京 😀' as a",
    "select count(*) as n from t where s = 'a''b--c' and u <> '?/*'",
]


def _parse_bound(sql: str) -> dict:
    con = duckdb.connect()
    try:
        return json.loads(con.execute(
            "select json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
    finally:
        con.close()


@pytest.mark.parametrize("sql", LITERALS)
def test_literal_sql_parses_as_bound_parameter(sql, monkeypatch):
    assert sql_import.parse_sql(sql) == _parse_bound(sql)
    converted = sql_to_wvlet(sql)
    monkeypatch.setattr(sql_import, "parse_sql", _parse_bound)
    assert converted == sql_to_wvlet(sql)


@pytest.mark.parametrize("sql", ["selec 1", "select 'open", "select 1\x00",
                                 "select '\ud800'"])
def test_bad_sql_raises_sql_import_error(sql):
    with pytest.raises(SqlImportError, match="SQL parse error"):
        sql_to_wvlet(sql)


def _convert(sql: str) -> str:
    try:
        return WvletSession(None).compile_to_sql(sql_to_wvlet(sql))
    except Exception as ex:  # importer and compiler error types vary
        return f"{type(ex).__name__}: {ex}"


def test_concurrent_conversions_match_sequential():
    import __spark_entry__

    corpus = sorted(__spark_entry__.oracle_sql().values())[:64]
    switch = sys.getswitchinterval()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        sequential = [_convert(sql) for sql in corpus]
        sys.setswitchinterval(1e-5)  # more thread switches inside parse_sql
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                concurrent = list(pool.map(_convert, corpus, timeout=120))
        finally:
            sys.setswitchinterval(switch)
    assert concurrent == sequential


def _const(tid: str, value, width: int = 0, scale: int = 0) -> dict:
    info = {"width": width, "scale": scale} if tid == "DECIMAL" else None
    return {"type": {"id": tid, "type_info": info}, "is_null": False,
            "value": value}


def _halves(n: int) -> dict:
    return {"upper": n >> 64, "lower": n & (2**64 - 1)}


def test_128_bit_constants():
    c = sql_import._constant
    assert c(_const("DECIMAL", _halves(-2273456789012345678), 19, 18)) == \
        "'-2.273456789012345678'::decimal(19,18)"
    assert c(_const("DECIMAL", _halves(-5), 38, 10)) == \
        "'-0.0000000005'::decimal(38,10)"
    assert c(_const("DECIMAL", _halves(10**38 - 1), 38, 2)) == \
        "'" + "9" * 36 + ".99'::decimal(38,2)"
    assert c(_const("HUGEINT", _halves(-12345678901234567890123))) == \
        "-12345678901234567890123"
    assert c(_const("UHUGEINT", _halves(2**128 - 1))) == str(2**128 - 1)


@pytest.mark.parametrize("sql", [
    "select 0.2273456789012345678 as a",
    "select -0.2273456789012345678 as a",
    "select 12345678901234567890123 as a",
    "select -12345678901234567890123 as a",
    "select 1234567890123456789.0123456789012345678 as a",
    # width <= 18, but more significant digits than a double keeps
    "select 0.22734567890123456 as a",
    "select -9.99999999999999999 as a",
    "select 0.06 as a, 1.50 as b, 0.00001 as c",
])
def test_128_bit_constants_round_trip_on_duckdb(sql):
    wv = sql_to_wvlet(sql)
    duck = WvletSession(None).compile_to_sql(wv, dialect="duckdb")
    con = duckdb.connect()
    try:
        assert con.execute(duck).fetchall() == con.execute(sql).fetchall()
    finally:
        con.close()


def test_compile_path_loads_neither_spark_nor_pandas():
    code = (
        "import sys\n"
        "from wvlet_spark.session import WvletSession\n"
        "from wvlet_spark.sql_import import sql_to_wvlet\n"
        "WvletSession(None).compile_to_sql(sql_to_wvlet('select 1 as a'))\n"
        "print(sorted({m.split('.')[0] for m in sys.modules}"
        " & {'pyspark', 'pandas', 'numpy'}))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120)
    assert out.stdout.strip() == "[]"


def test_registered_tool_overrides_builtin():
    ws = WvletSession(None)
    ws.register_tool("exact_dedup", lambda spark, table: ("mine", table))
    assert ws.run("call exact_dedup(table='docs')") == ("mine", "docs")
    ws.register_tool("vocabulary", lambda spark, table: "later")
    assert ws.run("call vocabulary(table='docs')") == "later"


def test_unknown_tool_raises():
    with pytest.raises(CompileError, match="^unknown tool: no_such_tool$"):
        WvletSession(None).run("call no_such_tool(table='docs')")
