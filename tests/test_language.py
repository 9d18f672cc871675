"""Operator/language-level tests modeled on the reference spec corpus
(spec/basic/*.wv) — inline values, in-query test assertions, and
compile-only checks that don't need testdata."""

import pytest

from wvlet_spark.generator import CompileError
from wvlet_spark.lexer import WvletSyntaxError
from wvlet_spark.session import compile_to_sql


def run(ws, text):
    return ws.run(text)


def rows(df):
    return [list(r) for r in df.collect()]


def test_values_and_filter(ws):
    df = run(ws, """
from [
  [1, "alice", 10],
  [2, "bob", 20],
  [3, "clark", 30]
] as p(id, name, age)
where id = 1
test _.rows = [[1, "alice", 10]]
""")
    assert rows(df) == [[1, "alice", 10]]


def test_left_join_using(ws):
    df = run(ws, """
from [[1, "alice", 10], [2, "bob", 20], [3, "clark", 30]] as p(id, name, age)
left join [[1, "home"], [2, "work"]] as w(id, location)
on id
order by id
""")
    assert rows(df) == [
        [1, "alice", 10, "home"],
        [2, "bob", 20, "work"],
        [3, "clark", 30, None],
    ]


def test_asof_join_values(ws):
    df = run(ws, """
from [
  ['AAPL', '2024-11-07', 1.0],
  ['AAPL', '2024-11-08', 2.0],
  ['AAPL', '2024-11-09', 3.0],
  ['AAPL', '2024-11-10', 4.0],
] as holding(symbol, date, shares)
asof join {
  from [
    ['AAPL', '2024-11-07', 10],
    ['AAPL', '2024-11-08', 50],
    ['AAPL', '2024-11-09', 100],
  ] as stock(symbol, date, price)
} on stock.symbol = holding.symbol and stock.date <= holding.date
add price * shares as holding_value
select symbol, date, shares, price, holding_value
order by date
""")
    got = [[r[0], r[1], float(r[2]), r[3], float(r[4])] for r in rows(df)]
    assert got == [
        ["AAPL", "2024-11-07", 1.0, 10, 10.0],
        ["AAPL", "2024-11-08", 2.0, 50, 100.0],
        ["AAPL", "2024-11-09", 3.0, 100, 300.0],
        ["AAPL", "2024-11-10", 4.0, 100, 400.0],
    ]


def test_group_by_having(ws):
    df = run(ws, """
from [[1, 'x'], [1, 'y'], [2, 'z']] as t(id, v)
group by id
where _.count >= 2
agg n = _.count
""")
    assert rows(df) == [[1, 2]]


def test_array_agg_and_index(ws):
    df = run(ws, """
from [[1, "a"], [1, "b"], [2, "c"]] as tbl(id, v)
group by id
agg arr = v.to_array
order by id
""")
    r = rows(df)
    assert r[0][0] == 1 and sorted(r[0][1]) == ["a", "b"]
    assert r[1][0] == 2 and r[1][1] == ["c"]


def test_one_origin_indexing(ws):
    df = run(ws, "select x = [10, 20, 30][1]")
    assert rows(df) == [[10]]


def test_case_without_end(ws):
    df = run(ws, """
from [[1, 'apple'], [2, 'banana'], [3, 'box']] as items(id, name)
select
  case name
    when 'apple' then 'fruit'
    when 'banana' then 'fruit'
    else 'other'
  as category
order by category
""")
    assert [r[0] for r in rows(df)] == ["fruit", "fruit", "other"]


def test_if_else_chain(ws):
    df = run(ws, """
from [[1, 'apple'], [3, 'box']] as items(id, name)
select
  r = if name is 'apple' then 'fruit' else 'other'
order by r
""")
    assert [r[0] for r in rows(df)] == ["fruit", "other"]


def test_null_equality_sugar(ws):
    df = run(ws, """
from [[1, 'a'], [2, null]] as t(id, v)
where v = null
select id
""")
    assert rows(df) == [[2]]


def test_unnest(ws):
    df = run(ws, "from unnest([1, 2, 3]) as t(number)")
    assert sorted(r[0] for r in rows(df)) == [1, 2, 3]


def test_partial_query_def(ws):
    df = run(ws, """
def is_big = where v >= 10
from [[1, 5], [2, 15], [3, 25]] as t(id, v) | is_big
count
""")
    assert rows(df) == [[2]]


def test_model_with_params(ws):
    df = run(ws, """
model above(bound: int) = {
  from [[1, 5], [2, 15], [3, 25]] as t(id, v)
  where v > bound
}
from above(bound = 10)
count
""")
    assert rows(df) == [[2]]


def test_val_substitution(ws):
    df = run(ws, """
val threshold = 20
from [[1, 5], [2, 15], [3, 25]] as t(id, v)
where v > threshold
select id
""")
    assert rows(df) == [[3]]


def test_function_def_inline(ws):
    df = run(ws, """
def double_it(x: int): int = x * 2
select y = double_it(21)
""")
    assert rows(df) == [[42]]


def test_string_concat_plus(ws):
    df = run(ws, "select s = 'a' + 'b' + 'c'")
    assert rows(df) == [["abc"]]


def test_interpolation(ws):
    df = run(ws, "select s = s\"v=${1 + 2}!\"")
    assert rows(df) == [["v=3!"]]


def test_pivot_inline(ws):
    df = run(ws, """
from [[2023, 'a'], [2023, 'b'], [2024, 'c']] as t(year, v)
pivot on year in (2023, 2024)
agg _.count
""")
    r = rows(df)
    assert r == [[2, 1]]
    assert df.columns == ["2023", "2024"]


def test_intersect_except_all(ws):
    df = run(ws, """
from [[1], [2], [2], [3]] as a(x)
except { from [[2]] as b(x) }
order by x
""")
    assert rows(df) == [[1], [3]]


def test_window_compact_frame(ws):
    df = run(ws, """
from [[1, 10], [2, 20], [3, 30]] as t(id, v)
select id, s = sum(v) over (order by id rows[-1,0])
order by id
""")
    assert rows(df) == [[1, 10], [2, 30], [3, 50]]


def test_transform_update(ws):
    df = run(ws, """
from [[1, 'a']] as t(id, v)
transform v = upper(v)
""")
    assert rows(df) == [[1, "A"]]
    assert df.columns == ["id", "v"]


def test_shift_and_exclude(ws):
    df = run(ws, """
from [[1, 'a', true]] as t(id, v, flag)
shift v
exclude flag
""")
    assert df.columns == ["v", "id"]


def test_in_list_and_between(ws):
    df = run(ws, """
from [[1], [5], [9]] as t(x)
where x in (1, 9) or x between 4 and 6
order by x
""")
    assert rows(df) == [[1], [5], [9]]


def test_count_shorthand(ws):
    df = run(ws, "from [[1], [2]] as t(x)\ncount")
    assert rows(df) == [[2]]
    assert df.columns == ["count"]


def test_dedup(ws):
    df = run(ws, "from [[1], [1], [2]] as t(x)\ndedup\norder by x")
    assert rows(df) == [[1], [2]]


def test_limit_offset(ws):
    df = run(ws, "from [[1], [2], [3]] as t(x)\norder by x\nlimit 2\noffset 1")
    assert rows(df) == [[2], [3]]


def test_concat_union_all(ws):
    df = run(ws, """
from [[1]] as a(x)
concat { from [[2]] as b(x) }
order by x
""")
    assert rows(df) == [[1], [2]]


def test_recursion_detected(ws):
    with pytest.raises(CompileError, match="recursive"):
        ws.run("model m1 = { from m2 }\nmodel m2 = { from m1 }\nfrom m1")


def test_missing_model_arg(ws):
    with pytest.raises(CompileError, match="missing argument"):
        ws.run("model m(x: int) = { from [[1]] as t(a) where a = x }\nfrom m()")


def test_syntax_error_position():
    with pytest.raises(WvletSyntaxError):
        compile_to_sql("from t where limit ???")


def test_compile_only_both_dialects():
    wv = "from t where a > 1 group by b select b, n = _.count order by n desc limit 5"
    s = compile_to_sql(wv, "spark")
    d = compile_to_sql(wv, "duckdb")
    assert "GROUP BY" in s and "LIMIT 5" in s
    assert "GROUP BY" in d


def test_describe(ws):
    df = ws.run("describe nation")
    cols = {r[0] for r in df.collect()}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= cols


def test_show_tables(ws):
    df = ws.run("show tables")
    names = {r[0] for r in df.collect()}
    assert "lineitem" in names and "orders" in names


def test_in_query_test_failure(ws):
    from wvlet_spark.testing import TestFailure

    with pytest.raises(TestFailure):
        ws.run("from [[1]] as t(x)\ntest _.size should be 99")
    with pytest.raises(TestFailure):
        ws.run("with a as { from [[1]] as t(x) } from a\n"
               "test _.size should be 99")


def test_save_and_read_table(ws):
    ws.run("from [[1, 'a'], [2, 'b']] as t(id, v)\nsave to wv_saved_t1")
    df = ws.run("from wv_saved_t1\norder by id")
    assert [list(r) for r in df.collect()] == [[1, "a"], [2, "b"]]
    ws.run("from [[3, 'c']] as t(id, v)\nappend to wv_saved_t1")
    df = ws.run("from wv_saved_t1 count")
    assert df.collect()[0][0] == 3


def test_insert_into_and_overwrite(ws, spark):
    ws.run("from nation where n_regionkey = 0\nsave to ins_t")
    n0 = spark.table("ins_t").count()
    ws.run("insert into ins_t { from nation where n_regionkey = 1 }")
    n1 = spark.table("ins_t").count()
    exp = spark.sql("SELECT count(*) FROM nation WHERE n_regionkey IN (0,1)").collect()[0][0]
    assert n1 == exp and n1 > n0
    ws.run("insert overwrite ins_t { from nation where n_regionkey = 2 }")
    assert spark.table("ins_t").count() == \
        spark.sql("SELECT count(*) FROM nation WHERE n_regionkey = 2").collect()[0][0]
    spark.sql("DROP TABLE IF EXISTS ins_t")


def test_insert_with_partition_hints(ws, spark):
    ws.run("insert into hint_t distribute by n_regionkey sort by n_nationkey { from nation }")
    assert spark.table("hint_t").count() == spark.table("nation").count()
    ws.run("insert into hint_t cluster by n_regionkey { from nation }")
    assert spark.table("hint_t").count() == 2 * spark.table("nation").count()
    spark.sql("DROP TABLE IF EXISTS hint_t")


def test_insert_column_subset_fills_nulls(ws, spark):
    ws.run("from nation select n_nationkey, n_name, n_regionkey\nsave to sub_t")
    ws.run("insert into sub_t (n_nationkey, n_name) { from nation select n_nationkey + 100, n_name }")
    rows = spark.sql("SELECT n_regionkey FROM sub_t WHERE n_nationkey >= 100").collect()
    assert rows and all(r[0] is None for r in rows)
    spark.sql("DROP TABLE IF EXISTS sub_t")


def test_is_distinct_from(ws):
    df = ws.run("""
from [[1, 1], [2, null], [null, null]] as t(a, b)
where a is distinct from b
select a, b
""")
    rows = {(r[0], r[1]) for r in df.collect()}
    assert rows == {(2, None)}


def test_sample_variants_compile(ws):
    # bernoulli percentage sampling executes; row count is probabilistic
    n = ws.run("from lineitem sample 10%").count()
    total = ws.run("from lineitem count").collect()[0][0]
    assert 0 < n < total
    # fixed-size reservoir
    assert ws.run("from lineitem sample reservoir(50)").count() == 50


def test_explain_returns_plan(ws):
    df = ws.run("explain from nation where n_regionkey = 0 select n_name")
    text = " ".join(str(r) for r in df.collect())
    assert "Filter" in text or "plan" in text


def test_ddl_passthrough(ws, spark):
    ws.run("CREATE TABLE ddl_t (id INT, name STRING) USING parquet")
    assert spark.catalog.tableExists("ddl_t")
    ws.run("ALTER TABLE ddl_t ADD COLUMNS (extra DOUBLE)")
    assert "extra" in spark.table("ddl_t").columns
    ws.run("create view ddl_v as select 1 as one;\nfrom ddl_v")
    assert spark.table("ddl_v").collect()[0][0] == 1
    ws.run("DROP VIEW ddl_v")
    ws.run("DROP TABLE ddl_t")
    assert not spark.catalog.tableExists("ddl_t")


def test_type_method_extension(ws):
    df = ws.run("""
type money = {
  amount: double
  def with_tax(rate: double): double = this * (1 + rate)
  def doubled: double = this * 2
}
from [[100.0], [50.0]] as t(amount)
select total = amount.with_tax(0.1), twice = amount.doubled
order by total
""")
    got = [[round(r[0], 6), round(r[1], 6)] for r in df.collect()]
    assert got == [[55.0, 100.0], [110.0, 200.0]]


def test_type_method_dialect_variant(ws):
    # reference syntax: the engine scope is on the type header
    df = ws.run("""
type s2 in spark = {
  def shout: string = upper(this) + '!'
}
type s2 in duckdb = {
  def shout: string = upper(this)
}
from [['hey']] as t(v)
select r = v.shout
""")
    assert df.collect()[0][0] == "HEY!"


def test_connector_source(ws, spark):
    def fake_channels(s):
        return s.createDataFrame(
            [("C1", "general", 120), ("C2", "random", 45)],
            ["channel_id", "name", "members"],
        )

    ws.register_connector("slack.channels", fake_channels)
    df = ws.run("""
from slack.channels
where members > 100
select channel_id, name
""")
    assert [list(r) for r in df.collect()] == [["C1", "general"]]


def test_connector_staged_once_per_statement(ws, spark):
    """Run-scoped staging (reference SourceTableStaging): a statement that
    references the connector table several times invokes the connector
    function exactly once; the next statement re-stages (fresh data)."""
    calls = []

    def src(s):
        calls.append(1)
        return s.createDataFrame([(1, "a"), (2, "b")], ["id", "tag"])

    ws.register_connector("ext.items", src)
    df = ws.run("""
from ext.items as l
join ext.items as r on l.id = r.id
select l.id, r.tag
order by l.id
""")
    assert [list(r) for r in df.collect()] == [[1, "a"], [2, "b"]]
    assert len(calls) == 1
    ws.run("from ext.items select id").collect()
    assert len(calls) == 2


def test_connector_staged_views_isolated_between_sessions(spark):
    """Two WvletSessions sharing one SparkSession stage the same connector
    under different view names — no cross-talk."""
    from wvlet_spark import WvletSession

    ws1 = WvletSession(spark)
    ws2 = WvletSession(spark)
    ws1.register_connector("ext.x", lambda s: s.createDataFrame([(1,)], ["v"]))
    ws2.register_connector("ext.x", lambda s: s.createDataFrame([(2,)], ["v"]))
    with ws1.scope() as s1, ws2.scope() as s2:
        r1 = ws1.run("from ext.x select v").collect()[0][0]
        v1 = s1.conn["ext.x"]
        r2 = ws2.run("from ext.x select v").collect()[0][0]
        v2 = s2.conn["ext.x"]
    assert (r1, r2) == (1, 2)
    assert v1 != v2


def test_connector_views_last_one_statement(spark):
    """A connector view goes when the next statement starts or its scope
    closes, with its schema-cache entries; bare runs, whose scope nobody
    closes, drop theirs on return, so repeated bare runs leave none behind
    and their frames still collect."""
    from wvlet_spark import WvletSession

    ws = WvletSession(spark)
    data = {"rows": [(1,)], "schema": "v bigint"}
    ws.register_connector(
        "ext.x", lambda s: s.createDataFrame(data["rows"], data["schema"]))

    def conn_views():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("__wv_conn_")}

    before = conn_views()
    dfs = [ws.run("from ext.x select v") for _ in range(5)]
    assert conn_views() == before
    assert not [v for v in ws._schema_cache if v.startswith("__wv_conn_")]
    assert [df.collect()[0][0] for df in dfs] == [1] * 5
    with ws.scope() as s:
        # the lowering follows the type the connector gives `v` now
        data.update(rows=[([1, 2],)], schema="v array<bigint>")
        assert ws.run("from ext.x select n = len(v)").collect()[0].n == 2
        assert "size(v)" in s.sql
        data.update(rows=[("abc",)], schema="v string")
        for _ in range(3):
            assert ws.run("from ext.x select n = len(v)").collect()[0].n == 3
            assert "size(" not in s.sql
        assert conn_views() - before == set(s.conn.values())
        assert len(s.conn) == 1
    assert conn_views() == before


def test_call_tool(ws, spark):
    calls = []

    def reindex(s, table="x", depth=1):
        calls.append((table, depth))
        return s.createDataFrame([(table, "done")], ["target", "status"])

    ws.register_tool("reindex", reindex)
    df = ws.run("call reindex(table = 'docs', depth = 2)")
    assert calls == [("docs", 2)]
    assert [list(r) for r in df.collect()] == [["docs", "done"]]


def test_struct_literal_access(ws):
    df = ws.run("""
select p = {name: 'ann', age: 31}
add nm = p.name
""")
    r = df.collect()[0]
    assert r["nm"] == "ann"


def test_map_literal(ws):
    df = ws.run("select m = map {'a': 1, 'b': 2}\nadd v = m['b']")
    assert df.collect()[0]["v"] == 2


def test_method_casts_and_or_else(ws):
    df = ws.run("""
from [['12', null], ['7', '3']] as t(a, b)
select
  x = a.to_int,
  y = b.or_else('0').to_int
order by x
""")
    assert [list(r) for r in df.collect()] == [[7, 3], [12, 0]]


def test_try_cast(ws):
    df = ws.run("select v = try_cast('abc' as int)")
    assert df.collect()[0][0] is None


def test_string_methods(ws):
    df = ws.run("""
from [['  Hello ']] as t(s)
select n = s.trim.length, up = upper(s.trim)
""")
    assert [list(r) for r in df.collect()] == [[5, "HELLO"]]


def test_delete_from_temp_view(ws, spark):
    """delete must be visible on re-read when the table is a temp view
    (the standard register_parquet_dir setup)."""
    spark.table("nation").createOrReplaceTempView("del_v")
    ws.run("from del_v where n_regionkey = 0\ndelete")
    left = ws.run("from del_v count").collect()[0][0]
    exp = spark.sql("SELECT count(*) FROM nation WHERE n_regionkey <> 0").collect()[0][0]
    assert left == exp
    assert ws.run("from del_v where n_regionkey = 0 count").collect()[0][0] == 0
    spark.catalog.dropTempView("del_v")


def test_delete_from_catalog_table(ws, spark):
    ws.run("from nation\nsave to del_t")
    spark.catalog.dropTempView("del_t") if "del_t" in [
        t.name for t in spark.catalog.listTables() if t.tableType == "TEMPORARY"
    ] else None
    ws.run("from del_t where n_regionkey <= 1\ndelete")
    exp = spark.sql("SELECT count(*) FROM nation WHERE n_regionkey > 1").collect()[0][0]
    assert spark.table("del_t").count() == exp
    spark.sql("DROP TABLE IF EXISTS del_t")


def test_acid_sql_generation():
    """Transactional DELETE/MERGE text for Delta/Iceberg targets — the
    capability branch, testable without the runtimes."""
    from wvlet_spark import acid

    assert acid.delete_sql("t", "(x > 1)") == "DELETE FROM t WHERE (x > 1)"
    assert acid.delete_sql("t", None) == "DELETE FROM t WHERE TRUE"
    m = acid.merge_upsert_sql("tgt", "src", ["window_start", "k"])
    assert m == ("MERGE INTO tgt t USING src s "
                 "ON t.window_start = s.window_start AND t.k = s.k "
                 "WHEN MATCHED THEN UPDATE SET * "
                 "WHEN NOT MATCHED THEN INSERT *")


def test_acid_provider_probe(ws, spark):
    """Temp views and parquet saveAsTable targets report a non-ACID
    provider, so delete takes the rewrite fallback in this sandbox."""
    from wvlet_spark import acid

    spark.table("nation").createOrReplaceTempView("prov_v")
    assert acid.table_provider(spark, "prov_v") is None \
        or acid.table_provider(spark, "prov_v") not in acid.ACID_PROVIDERS
    assert not acid.supports_sql_delete(spark, "prov_v")
    spark.catalog.dropTempView("prov_v")
    assert not acid.supports_merge(spark, "no_such_table_xyz")


def test_delete_emits_sql_on_acid_target(ws, spark, monkeypatch):
    """When the target's provider is Delta/Iceberg, delete issues native
    `DELETE FROM ... WHERE` instead of rewriting the table."""
    from wvlet_spark import acid

    monkeypatch.setattr(acid, "supports_sql_delete", lambda s, t: True)
    issued = []
    real_sql = ws.spark.sql

    class _Rec:
        def __getattr__(self, a):
            return getattr(spark, a)

        def sql(self, q, **kw):
            if q.strip().upper().startswith("DELETE"):
                issued.append(q)
                return None
            return real_sql(q, **kw)

    monkeypatch.setattr(ws, "spark", _Rec())
    ws.run("from nation where n_regionkey = 0\ndelete")
    assert issued == ["DELETE FROM nation WHERE ((n_regionkey = 0))"]
    # nation itself untouched (no rewrite happened)
    assert spark.table("nation").count() == 25


def test_recursive_cte_sequence(ws):
    df = ws.run("""
with recursive seq as {
  from [[1]] as s(n)
  concat {
    from seq
    where n < 5
    select n = n + 1
  }
}
from seq
order by n
""")
    assert [r[0] for r in df.collect()] == [1, 2, 3, 4, 5]


def test_recursive_cte_with_join(ws):
    df = ws.run("""
with recursive chain as {
  from nation
  where n_nationkey = 0
  select n_nationkey, n_name
  concat {
    from chain, nation
    where nation.n_nationkey = chain.n_nationkey + 1
      and nation.n_nationkey <= 4
    select nation.n_nationkey, nation.n_name
  }
}
from chain
order by n_nationkey
""")
    assert [r[0] for r in df.collect()] == [0, 1, 2, 3, 4]


def test_non_recursive_with_unchanged(ws):
    # plain `with` must still render as a non-recursive CTE
    sql = ws.compile_to_sql("with a as { from nation } from a count")
    assert "RECURSIVE" not in sql


def test_at_time_zone(ws, spark):
    df = ws.run("""
from events
where event_id = 1
select h_utc = extract(hour from ts::timestamp)::long,
       h_tokyo = extract(hour from ts::timestamp at time zone 'Asia/Tokyo')::long
""")
    r = df.collect()[0]
    assert r["h_tokyo"] == (r["h_utc"] + 9) % 24  # Tokyo is UTC+9, no DST


def test_prepared_params_positional(ws):
    df = ws.run(
        "from nation where n_nationkey < ? and n_regionkey = ? select n_nationkey order by n_nationkey",
        params=[10, 1],
    )
    keys = [r[0] for r in df.collect()]
    assert keys and all(k < 10 for k in keys)


def test_prepared_params_indexed_and_named(ws):
    df = ws.run("from nation where n_nationkey < $1 select n_nationkey order by n_nationkey",
                params=[3])
    assert [r[0] for r in df.collect()] == [0, 1, 2]
    df = ws.run("from nation where n_name = $nm select n_nationkey", params={"nm": "NATION_7"})
    assert [r[0] for r in df.collect()] == [7]


def test_prepared_params_unbound_errors(ws):
    from wvlet_spark.generator import CompileError

    with pytest.raises(CompileError, match="parameter"):
        ws.run("from nation where n_nationkey < ? select n_nationkey")
    with pytest.raises(CompileError, match="parameter"):
        ws.run("from nation where n_name = $nm select n_nationkey", params={})


def test_ulid_string_native(ws):
    df = ws.run("from nation where n_nationkey = 0 select uid = ulid_string")
    v = df.collect()[0][0]
    assert isinstance(v, str) and len(v) == 26
    # compile-time evaluated: constant within one query
    df = ws.run("from nation where n_nationkey < 3 select uid = ulid_string")
    vals = {r[0] for r in df.collect()}
    assert len(vals) == 1


def test_native_def_passthrough(ws):
    sql = ws.compile_to_sql("def myfn(x: int): int = native\nfrom nation select z = myfn(n_nationkey) limit 1")
    assert "myfn(" in sql


def test_duckdb_profile_connector(spark, tmp_path):
    """`from duck.<table>` reads a table out of a DuckDB database file —
    the reference's second-engine profile connector, through Arrow."""
    import duckdb

    from wvlet_spark import WvletSession

    db = str(tmp_path / "cat.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE items AS SELECT * FROM (VALUES "
                "(1, 'alpha', 9.5), (2, 'beta', 3.25), (3, 'gamma', 7.0)"
                ") t(id, name, score)")
    con.close()

    ws2 = WvletSession(spark)
    ws2.register_duckdb_profile("duck", db)
    df = ws2.run("""
from duck.items
where score > 5
select id, name
order by id
""")
    assert [list(r) for r in df.collect()] == [[1, "alpha"], [3, "gamma"]]
    # joins against local relations work too
    df2 = ws2.run("""
from duck.items as d
join [[1, 'x'], [3, 'y']] as t(id, tag) on d.id = t.id
select d.name, t.tag
order by d.name
""")
    assert [list(r) for r in df2.collect()] == [["alpha", "x"], ["gamma", "y"]]


def test_avg_decimal_huge_sum_no_overflow(spark):
    """The avg(decimal) exact path narrows the sum to DECIMAL(20,s); with
    ANSI off a group sum past 10^18 would silently NULL.  The CASE guard
    must fall back to double division and return a real value."""
    from decimal import Decimal

    from wvlet_spark import WvletSession

    big = Decimal("900000000000000000.00")  # 9e17; three of them > 10^18
    spark.createDataFrame(
        [(1, big), (1, big), (1, big), (2, Decimal("10.50")),
         (2, Decimal("11.50"))],
        "g int, amount decimal(20,2)").createOrReplaceTempView("bigdec")
    ws = WvletSession(spark)
    rows = ws.run(
        "from bigdec group by g agg amount.avg as a order by g").collect()
    assert rows[0].a == 9e17          # double path, not NULL
    assert rows[1].a == 11.0          # exact path unchanged
    spark.catalog.dropTempView("bigdec")


def test_column_type_ambiguous_duplicate_names(spark):
    """A column name that several tables carry with DIFFERENT types takes
    the type of the table the query reads: each decimal sum is cast at
    its own table's scale."""
    from decimal import Decimal

    from wvlet_spark import WvletSession

    spark.createDataFrame([(Decimal("1.23"),)], "x decimal(10,2)") \
        .createOrReplaceTempView("amb_a")
    spark.createDataFrame([(Decimal("1.23456"),)], "x decimal(12,5)") \
        .createOrReplaceTempView("amb_b")
    ws = WvletSession(spark)
    assert ws.table_schema("amb_a") == {"x": "decimal(10,2)"}
    assert ws.table_schema("amb_b") == {"x": "decimal(12,5)"}
    assert "CAST(sum(x) AS DECIMAL(38,2))" in \
        ws.compile_to_sql("from amb_a agg x.sum")
    assert "CAST(sum(x) AS DECIMAL(38,5))" in \
        ws.compile_to_sql("from amb_b agg x.sum")
    assert ws.run("from amb_b agg s = x.sum").collect()[0].s == \
        Decimal("1.23456")
    # same-typed duplicates keep their type through a join
    spark.createDataFrame([(Decimal("9.99"),)], "y decimal(10,2)") \
        .createOrReplaceTempView("amb_c")
    spark.createDataFrame([(Decimal("8.88"),)], "y decimal(10,2)") \
        .createOrReplaceTempView("amb_d")
    ws2 = WvletSession(spark)
    assert "CAST(sum(y) AS DECIMAL(38,2))" in ws2.compile_to_sql(
        "from amb_c natural join amb_d agg y.sum")
    for v in ("amb_a", "amb_b", "amb_c", "amb_d"):
        spark.catalog.dropTempView(v)


def test_column_types_come_from_the_relation(spark):
    """A column's type is the one the relation being compiled gives it,
    not that of a same-named column elsewhere in the catalog: `embedding`
    is an array in `embeddings` but a string below, and `x` is a double
    below but a decimal in `dec_t`."""
    from decimal import Decimal

    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession

    spark.createDataFrame([(Decimal("1.23"),)], "x decimal(10,2)") \
        .createOrReplaceTempView("dec_t")
    ws = WvletSession(spark, table_dir=SF_DIR)
    try:
        assert ws.table_schema("dec_t") == {"x": "decimal(10,2)"}
        for q in ["from documents add embedding = 'abc' "
                  "select len(embedding) as n",
                  "with e as { from documents add embedding = 'abc' } "
                  "from e select len(embedding) as n"]:
            assert "size(" not in ws.compile_to_sql(q)
            assert {r.n for r in ws.run(q).collect()} == {3}
        assert "size(embedding)" in ws.compile_to_sql(
            "from embeddings select len(embedding)")
        q = ("from documents add x = n_chars / 3.0 group by lang "
             "agg s = x.sum, a = x.avg order by lang")
        assert "DECIMAL" not in ws.compile_to_sql(q)
        want = spark.sql(
            "SELECT lang, sum(n_chars / 3.0D) AS s, avg(n_chars / 3.0D) AS a"
            " FROM documents GROUP BY lang ORDER BY lang").collect()
        got = ws.run(q).collect()
        assert [r.lang for r in got] == [r.lang for r in want]
        for g, w in zip(got, want):
            assert (g.s, g.a) == (pytest.approx(w.s, rel=1e-12),
                                  pytest.approx(w.a, rel=1e-12))
    finally:
        spark.catalog.dropTempView("dec_t")


def test_save_with_partition_by_and_compression(spark, tmp_path):
    """`save to 'file' with partition_by/compression` writes a partitioned
    layout (directory-per-value — the prunable shape at scale) with the
    requested codec."""
    import os

    from wvlet_spark import WvletSession

    out = str(tmp_path / "parts.parquet")
    ws = WvletSession(spark)
    ws.run(f"""
from [[1, 'en'], [2, 'de'], [3, 'en']] as t(id, lang)
save to '{out}'
with
  partition_by: ['lang'],
  compression: 'zstd',
""")
    subdirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert subdirs == {"lang=en", "lang=de"}
    files = [f for d in subdirs for f in os.listdir(os.path.join(out, d))
             if f.endswith(".parquet")]
    assert files and all("zstd" in f for f in files)
    back = spark.read.parquet(out)
    assert sorted((r.id, r.lang) for r in back.collect()) == \
        [(1, "en"), (2, "de"), (3, "en")]


def test_builtin_pipeline_tools(spark):
    """The training-pipeline operator library is language-reachable via
    `call <tool>(table=...)` (round-4 builtin tool registry)."""
    from wvlet_spark import WvletSession

    ws = WvletSession(spark, test_mode=False)
    ws.run('from [[1, "the cat"], [2, "the cat"], [3, "a dog"]] '
           'as t(doc_id, text)\nsave to tool_docs')
    assert ws.run("call exact_dedup(table='tool_docs')").count() == 2
    vocab = {r.word: r.total_count for r in
             ws.run("call vocabulary(table='tool_docs')").collect()}
    assert vocab["the"] == 2 and vocab["cat"] == 2
    samp = ws.run("call deterministic_sample(table='tool_docs', "
                  "fraction=1.0)")
    assert samp.count() == 3
    # round-5 additions: sketches + similarity reachable the same way
    ft = ws.run("call frequent_terms(table='tool_docs', k=2)").collect()
    assert [r.term for r in ft][0] in ("the", "cat")
    ad = ws.run("call approx_distinct(table='tool_docs', "
                "group='text', column='doc_id')").collect()
    assert all(r.within_tol for r in ad)
    # round-5 additions: LM scoring, projections, portable near-dup
    lm = {r.doc_id: r.avg_logp for r in
          ws.run("call unigram_lm(table='tool_docs')").collect()}
    assert len(lm) == 3 and all(v < 0 for v in lm.values())
    mh = ws.run("call minhash_portable(table='tool_docs', "
                "shingle_k=2, threshold=0.5)").collect()
    assert {(r.id_a, r.id_b) for r in mh} == {(1, 2)}
    sh = ws.run("call simhash_pairs(table='tool_docs', "
                "max_hamming=3)").collect()
    assert any((r.id_a, r.id_b) == (1, 2) for r in sh)
    # late round-5 additions: bloom filter, diversity, equi-depth bins
    bl = ws.run("call bloom_build(table='tool_docs', m_bits=1024, "
                "k=3)").collect()
    assert bl and all(r.bits != 0 for r in bl)
    ws.run('from [[1, "a b", "s1", 3], [2, "c d", "s1", 5]] '
           'as t(doc_id, text, source, n_chars)\nsave to tool_docs2')
    nd = ws.run("call ngram_diversity(table='tool_docs2')").collect()
    assert nd[0].n_unigrams == 4
    lb = ws.run("call length_bins(table='tool_docs2', "
                "n_bins=2)").collect()
    assert sum(r.n for r in lb) == 2
    # late round-5 additions: event analytics + fuzzy linkage
    ws.run('from [[1, "2024-01-01 00:00:00", "A"], '
           '[1, "2024-01-01 01:00:00", "B"], '
           '[2, "2024-01-01 00:00:00", "B"]] as t(user_id, ts0, event_type)'
           '\nselect user_id, ts = ts0.to_timestamp, event_type'
           '\nsave to tool_events')
    fn = {r.step: r.users for r in ws.run(
        "call funnel(table='tool_events', steps='A,B', "
        "within_seconds=86400)").collect()}
    assert fn == {"A": 1, "B": 1}
    ws.run('from [[1, "Acme Corporation A"], [2, "Acme Corporation B"]] '
           'as t(id, name)\nsave to tool_names')
    fp = ws.run("call fuzzy_pairs(table='tool_names', id='id', "
                "name='name', block_len=10)").collect()
    assert [(r.id1, r.id2, r.dist) for r in fp] == [(1, 2, 1)]
    sk = ws.run("call skew_report(table='tool_docs', keys='text', "
                "top_k=1)").collect()
    assert sk[0].n == 2 and sk[0].rank == 1  # "the cat" appears twice
    pf = ws.run("call profile_numeric(table='tool_docs', "
                "cols='doc_id')").collect()
    assert pf[0].col_name == "doc_id" and pf[0].n_distinct == 3



def test_call_casts_numeric_arguments(spark):
    """`call` casts the arguments an op takes as int, so a tool called with
    `2.0` answers as the op called with `2`."""
    from wvlet_spark import WvletSession
    from wvlet_spark.ops import sampling, similarity, text

    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 1, "en", 5), (1, [0.99, 0.1, 0.0], 2, "en", 9),
         (2, [0.95, 0.2, 0.0], 1, "de", 7), (3, [0.0, 1.0, 0.0], 2, "de", 3)],
        "vec_id long, embedding array<double>, label int, lang string, "
        "n_chars int").withColumnRenamed("vec_id", "doc_id") \
        .createOrReplaceTempView("tool_cast_docs")
    spark.table("tool_cast_docs").withColumnRenamed("doc_id", "vec_id") \
        .createOrReplaceTempView("tool_cast_vecs")
    ws = WvletSession(spark, test_mode=False)
    try:
        for call, want in [
                ("epoch_shuffle(table='tool_cast_docs', epoch=2.0)",
                 sampling.epoch_shuffle(spark.table("tool_cast_docs"), 2)),
                ("length_histogram(table='tool_cast_docs', n_buckets=2.0)",
                 text.length_histogram(spark.table("tool_cast_docs"),
                                       n_buckets=2)),
                ("hard_negatives(table='tool_cast_vecs', k=1.0, "
                 "anchor_mod=2.0)",
                 similarity.hard_negative_mining(
                     spark.table("tool_cast_vecs"), k=1, anchor_mod=2))]:
            assert sorted(rows(ws.run("call " + call)), key=repr) == \
                sorted(rows(want), key=repr), call
    finally:
        spark.catalog.dropTempView("tool_cast_docs")
        spark.catalog.dropTempView("tool_cast_vecs")


def test_agg_in_subquery_cte_shadowing(ws):
    """The aggregate-IN-subquery staging (q18 single-aggregation path)
    must NOT fire when the subquery references a CTE that shadows a real
    table — compiled standalone it would resolve to the TABLE."""
    rows = ws.run("""
with orders as {
  from nation
  select o_orderkey = n_nationkey
}
from region
where r_regionkey in {
  from orders
  group by o_orderkey
  where o_orderkey.count >= 1
  select o_orderkey
}
select r_regionkey
order by r_regionkey
""").collect()
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]


def test_file_formats_round_trip(ws, tmp_path):
    """orc / tsv / jsonl / ndjson file scans and saves (Spark-native
    formats beyond the reference's parquet/csv/json triple; .jsonl is the
    training-data interchange shape).  Key order of jsonl reads follows
    the authored record, matching the json behavior."""
    for ext in ("orc", "tsv", "jsonl", "ndjson"):
        p = str(tmp_path / f"n.{ext}")
        ws.run("from nation select n_nationkey, n_name "
               f"order by n_nationkey save to '{p}'")
        back = ws.run(f"from '{p}' order by n_nationkey limit 2")
        assert back.columns == ["n_nationkey", "n_name"], ext
        assert [tuple(r) for r in back.collect()] == \
            [(0, "NATION_0"), (1, "NATION_1")], ext


def test_rollup_derived_key_via_add(ws, duck):
    """Derived rollup keys use the idiomatic `add k = ...` form; aliasing
    inside rollup() raises a pointed error instead of silently grouping
    on a boolean comparison."""
    import pytest as _pytest

    from wvlet_spark.generator import CompileError

    q = ("from customer\nadd k = (c_nationkey % 3)::long\n"
         "group by rollup(c_mktsegment, k)\nagg n = _.count\n"
         "order by c_mktsegment nulls last, k nulls last")
    got = [tuple(r) for r in ws.run(q).collect()]
    exp = duck.execute(ws.oracle_sql(q)).fetchall()
    assert got == [tuple(r) for r in exp] and len(got) > 0
    with _pytest.raises(CompileError, match="alias a key inside rollup"):
        ws.run("from customer\n"
               "group by rollup(c_mktsegment, k = c_nationkey % 3)\n"
               "agg n = _.count")


def test_select_item_named_as_its_sql_names_it(ws, duck):
    """The columns a projection records are the names its SQL gives: an
    unaliased cast is named by its DuckDB rendering, not after its
    operand, and a positional group key `_1` by the key."""
    for q, cols in [("from nation select n_nationkey::double, n_name "
                     "| select columns_matching('^n_')", ["n_name"]),
                    ("from nation group by n_regionkey select _1, "
                     "n = _.count | select columns_matching('region')",
                     ["n_regionkey"])]:
        df = ws.run(q)
        got = sorted(tuple(r) for r in df.collect())
        assert got == sorted(duck.execute(ws.oracle_sql(q)).fetchall())
        assert df.columns == cols and len(got) > 0


def test_natural_join_native(ws):
    """`natural [left] join` is a first-class pipe (round 5): shared
    columns join implicitly and appear once in the output."""
    rows = ws.run("""from {
  from nation
  group by n_regionkey
  agg n = _.count
} as a
natural join {
  from region
  select n_regionkey = r_regionkey, r_name
} as b
order by n_regionkey""").collect()
    assert len(rows) == 5
    assert rows[0].n_regionkey == 0 and rows[0].n == 5
    assert set(rows[0].asDict()) == {"n_regionkey", "n", "r_name"}


def test_funnel_latency_tool(ws):
    ws.run('from [[1, "2024-01-01 00:00:00", "A"], '
           '[1, "2024-01-01 01:00:00", "B"]] as t(user_id, ts0, event_type)'
           '\nselect user_id, ts = ts0.to_timestamp, event_type'
           '\nsave to tool_events_lat')
    fn = {r.step: r for r in ws.run(
        "call funnel_latency(table='tool_events_lat', "
        "steps='A,B')").collect()}
    assert fn["A"].users == 1 and fn["B"].avg_secs == 3600.0


@pytest.mark.parametrize("scan_first", [True, False])
def test_nanos_parquet_scanned_and_registered(spark, tmp_path, scan_first):
    """A pyarrow TIMESTAMP(NANOS) file, and a directory of such part files,
    reads as microsecond timestamps both as a registered table and as a
    `from 'x.parquet'` scan, whichever comes first (the registration read
    flips a session-wide parquet conf that a plain scan would then see)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wvlet_spark import WvletSession

    ns = [1_700_000_000_123_456_789, 1_700_086_400_000_001_000]
    table = pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "wv_nanos.parquet"))
    (tmp_path / "wv_nanos_dir.parquet").mkdir()
    pq.write_table(table, str(tmp_path / "wv_nanos_dir.parquet" / "part-0.parquet"))
    expected = [[1, ns[0] // 1000], [2, ns[1] // 1000]]
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf, None)
    try:
        for name in ("wv_nanos", "wv_nanos_dir"):
            spark.conf.unset(conf)
            ws = WvletSession(spark, file_base=str(tmp_path), test_mode=False)
            shape = " order by id select id, unix_micros(ts) as us"

            def scanned():
                return rows(ws.run(f"from '{name}.parquet'" + shape))

            def registered():
                ws.register_parquet_dir(str(tmp_path))
                return rows(ws.run(f"from {name}" + shape))

            if scan_first:
                assert scanned() == expected, name
                assert registered() == expected, name
            else:
                assert registered() == expected, name
                assert scanned() == expected, name
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
        spark.catalog.dropTempView("wv_nanos")
        spark.catalog.dropTempView("wv_nanos_dir")
