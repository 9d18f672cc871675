"""`analyzer.walk` — the read-only traversal beside `transform` — and the
callers that use it: parameter binding for flows and `df_for_relation`,
stage-dependency discovery and stage-reference rewriting.  JVM-free: a
recording stand-in for the SparkSession captures the SQL text."""

from collections import Counter

import pytest

from wvlet_spark import nodes as N
from wvlet_spark.analyzer import transform, walk
from wvlet_spark.flows import FlowExecutor
from wvlet_spark.session import WvletSession
from wvlet_spark.suite import SUITE


class _RecordingSpark:
    """Records every `sql` text; returns no DataFrame."""

    def __init__(self):
        self.texts: list[str] = []

    def sql(self, text):
        self.texts.append(text)


@pytest.fixture()
def rec():
    return _RecordingSpark()


@pytest.fixture()
def ws(rec):
    return WvletSession(spark=rec)


def _body(ws, text):
    return ws.parse(text)[0].body


def _bound_sql(ws, rec, text, params):
    ws.df_for_relation(_body(ws, text), params=params)
    return rec.texts[-1]


@pytest.mark.parametrize("name", sorted(SUITE))
def test_walk_visits_what_transform_visits(name):
    """Per SUITE plan, the Expr/Relation nodes `walk` yields are, as a
    multiset of types, the nodes `transform`'s callbacks receive."""
    seen: Counter = Counter()

    def count(n):
        seen[type(n)] += 1
        return n

    for stmt in WvletSession().parse(SUITE[name][0]):
        transform(stmt, expr_fn=count, rel_fn=count)
        walked = Counter(type(n) for n in walk(stmt)
                         if isinstance(n, (N.Expr, N.Relation)))
        assert walked == seen
        seen.clear()


def test_walk_is_pre_order_and_enters_tuples():
    rel = N.WithQuery([("t", N.TableRef("a"))],
                      N.Filter(N.TableRef("t"), N.Ident("x")))
    assert [type(n).__name__ for n in walk(rel)] == [
        "WithQuery", "TableRef", "Filter", "TableRef", "Ident"]
    assert [n.name for n in walk(rel) if isinstance(n, N.TableRef)] == [
        "a", "t"]


def test_param_bound_in_case_branch(ws, rec):
    sql = _bound_sql(ws, rec, "from nation where case when n_regionkey = rk "
                     "then true else false end", {"rk": 2})
    assert "(n_regionkey = 2)" in sql and "rk" not in sql


def test_param_bound_in_cte_body(ws, rec):
    sql = _bound_sql(ws, rec, "with t as { from nation where n_regionkey = rk }"
                     " from t", {"rk": 2})
    assert "(n_regionkey = 2)" in sql and "rk" not in sql


def test_bool_param_renders_as_bool(ws, rec):
    sql = _bound_sql(ws, rec, "from nation where flag", {"flag": True})
    assert sql.endswith("WHERE (TRUE)")


def test_string_and_float_params(ws, rec):
    sql = _bound_sql(ws, rec, "from nation where n_name = nm and "
                     "n_regionkey < rk", {"nm": "x'y", "rk": 1.5})
    assert "(n_name = 'x''y')" in sql and "(n_regionkey < 1.5D)" in sql


def test_stage_refs_found_inside_cte(ws):
    rel = _body(ws, "with t as { from a } from t join b on t.x = b.x")
    assert FlowExecutor(ws)._body_table_refs(rel, {"a", "b", "c"}) == {"a", "b"}


def test_stage_refs_rewritten_inside_cte(ws):
    rel = _body(ws, "with t as { from a } from t join b on t.x = b.x")
    out = FlowExecutor(ws)._rewrite_table_refs(
        rel, {"a": "__wv_flow_1_a", "b": "__wv_flow_1_b"})
    sql = ws._gen_sql(out, "spark")
    assert "(SELECT * FROM __wv_flow_1_a) AS a" in sql
    assert "(SELECT * FROM __wv_flow_1_b) AS b" in sql
    assert "FROM a)" not in sql
