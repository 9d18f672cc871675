"""HTTP query server (FrontendApi parity): status, submit with statement
selection / mid-pipeline preview, query-info history, error surface."""

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture()
def server(spark):
    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer

    ws = WvletSession(spark, table_dir=SF_DIR, test_mode=True)
    srv = WvletServer(ws, port=0).start()
    yield srv
    srv.stop()


def _get(server, path):
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}{path}", timeout=30) as r:
        return json.loads(r.read())


def _post(server, path, obj):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(obj).encode(), method="POST",
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_status(server):
    s = _get(server, "/v1/status")
    assert s["version"] and s["upTimeSec"] >= 0


def test_submit_query(server):
    code, info = _post(server, "/v1/query", {
        "query": "from region order by r_regionkey", "maxRows": 3})
    assert code == 200 and info["status"] == "finished"
    assert info["columns"] == ["r_regionkey", "r_name"]
    assert info["rowCount"] == 3 and info["clipped"] is True
    assert info["sql"].startswith("SELECT")
    # recorded result retrievable by id (getQueryInfo)
    again = _get(server, f"/v1/query/{info['queryId']}")
    assert again["rows"] == info["rows"]


def test_submit_mid_pipeline_preview(server):
    q = ("from nation\n"
         "where n_regionkey = 0\n"
         "select n_name\n"
         "order by n_name\n"
         "limit 1\n")
    code, info = _post(server, "/v1/query", {
        "query": q, "querySelection": "subquery", "line": 2, "maxRows": 50})
    assert code == 200
    # preview at the filter: unprojected, all region-0 nations
    assert set(info["columns"]) == {"n_nationkey", "n_name", "n_regionkey"}
    assert info["rowCount"] == 5
    code, info2 = _post(server, "/v1/query", {
        "query": q, "querySelection": "describe", "line": 3})
    assert code == 200
    assert info2["columns"] == ["column_name", "column_type"]
    assert [r[0] for r in info2["rows"]] == ["n_name"]


def test_submit_error_surface(server):
    code, info = _post(server, "/v1/query", {"query": "from nope_table count"})
    assert code == 400 and info["status"] == "failed"
    assert info["error"]["message"]


def test_submit_runs_embedded_tests(server):
    code, info = _post(server, "/v1/query", {
        "query": "from region count\ntest _.rows should be [[5]]"})
    assert code == 200
    assert info["testResults"] and all(ok for ok, _ in info["testResults"])


def test_unknown_query_id(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/v1/query/q_999999")
    assert ei.value.code == 404


def test_playground_page(server):
    """GET / serves the playground (reference wvlet-ui editor parity:
    editor posting to /v1/query with cursor line + selection mode)."""
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/", timeout=30) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/html")
        html = r.read().decode("utf-8")
    # the page drives the public endpoints, nothing else
    assert "wvlet-spark playground" in html
    assert "/v1/query" in html and "/v1/status" in html
    assert "querySelection" in html  # cursor-selection modes exposed
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/ui", timeout=30) as r:
        assert r.status == 200


def test_playground_script_parses():
    """The embedded playground JS must at least be syntactically valid
    (no browser in the test environment; node --check when available)."""
    import re
    import shutil
    import subprocess
    import tempfile

    from wvlet_spark.ui import PLAYGROUND_HTML

    node = shutil.which("node")
    if node is None:
        pytest.skip("node not available")
    script = re.search(r"<script>(.*)</script>", PLAYGROUND_HTML,
                       re.S).group(1)
    with tempfile.NamedTemporaryFile("w", suffix=".js") as f:
        f.write(script)
        f.flush()
        proc = subprocess.run([node, "--check", f.name],
                              capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr


def test_flows_endpoint(server):
    """GET /v1/flows lists declared flows and recorded runs (reference
    FlowRunsPage data over the run store)."""
    empty = _get(server, "/v1/flows")
    assert empty == {"flows": [], "runs": []}
    flow = ("flow nightly = {\n"
            "  stage s1 = { from region select r_regionkey limit 1 }\n"
            "}\n")
    code, info = _post(server, "/v1/query",
                       {"query": flow, "querySelection": "all"})
    assert code == 200, info
    code, info = _post(server, "/v1/query",
                       {"query": "run flow nightly", "querySelection": "all"})
    assert code == 200, info
    got = _get(server, "/v1/flows")
    assert [f["name"] for f in got["flows"]] == ["nightly"]
    assert got["runs"] and got["runs"][0]["flow"] == "nightly"
    states = {s["stage"]: s["state"] for s in got["runs"][0]["stages"]}
    assert states.get("s1") in ("succeeded", "success", "done", "finished")


# suite entries that stage views (IN-subquery keys, multiply referenced
# aggregate CTEs) and checkpoint them
STAGING = ["in_subquery", "tpch_q15", "tpch_q18", "tpch_q20_like",
           "tpcds_q44_best_worst"]


def _norm(rows):
    """Rows in a stable order, doubles to 10 digits (a concurrent run may
    sum in another order)."""
    def cell(v):
        return float(f"{v:.10g}") if isinstance(v, float) else v
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def test_wv_file_view_outlives_requests(spark, tmp_path):
    """`from 'q.wv'` is cached session-wide as a view; a body that stages
    a checkpointed IN-subquery must still read on the next request, after
    the first request's scope has closed."""
    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer
    from wvlet_spark.suite import SUITE

    (tmp_path / "q.wv").write_text(SUITE["in_subquery"][0])
    srv = WvletServer(WvletSession(spark, table_dir=SF_DIR,
                                   file_base=str(tmp_path)))
    infos = [srv.execute_request({"query": "from 'q.wv'"}) for _ in range(2)]
    assert [i["error"] for i in infos] == [None, None]
    assert infos[0]["rowCount"] > 0
    assert infos[0]["rows"] == infos[1]["rows"]


def test_call_on_model_reports_no_sql(spark):
    """A `call` statement runs no query statement of its own: its `sql` is
    null, also when the tool reads a model."""
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer

    srv = WvletServer(WvletSession(spark, test_mode=False))
    info = srv.execute_request({"query": (
        'model m = { from [[1, "a b"], [2, "a b"]] as t(doc_id, text) }\n'
        "call exact_dedup(table='m')"), "querySelection": "all"})
    assert info["error"] is None, info["error"]
    assert info["rowCount"] == 1 and info["sql"] is None


def test_concurrent_requests_match_sequential(spark):
    """4 threads send distinct suite entries with mixed isTestRun through
    one server: each response's rows and test results, and the set of
    query ids, are those of a sequential run of the same requests."""
    import sys
    import threading

    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer
    from wvlet_spark.suite import SUITE

    names = [n for n in SUITE if n != "flow_dag_run"][:19]
    # tpch_q18 (in_subquery is among the first 19) and two `with … from …`
    # queries, whose trailing `test` runs too
    names += ["tpch_q18", "tpch_q15", "tpcds_q44_best_worst"]
    reqs = {n: {"query": SUITE[n][0] + "\ntest _.size >= 0",
                "isTestRun": i % 2 == 0, "maxRows": 100_000}
            for i, n in enumerate(names)}

    def answer(info):
        assert info["error"] is None, info["error"]
        return _norm(info["rows"]), info["testResults"]

    seq = WvletServer(WvletSession(spark, table_dir=SF_DIR))
    seq_ids, want = [], {}
    for n in names:
        info = seq.execute_request(reqs[n])
        seq_ids.append(info["queryId"])
        want[n] = answer(info)
    assert all(want[n][1] == ([[True, "ok"]] if reqs[n]["isTestRun"]
                              else []) for n in names)

    srv = WvletServer(WvletSession(spark, table_dir=SF_DIR))
    got: dict[str, dict] = {}

    def client(part):
        for n in part:
            got[n] = srv.execute_request(reqs[n])

    threads = [threading.Thread(target=client, args=(names[i::4],))
               for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: races show sooner
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert {n: answer(got[n]) for n in names} == want
    assert sorted(info["queryId"] for info in got.values()) == seq_ids
    assert len(srv._history) == len(names)


def test_soak_leaves_nothing_staged(spark):
    """200 requests over non-flow suite entries, the staging ones among
    them, and `call`s of built-ins that cut lineage pin no new RDD and
    leave the `__wv_*` view count where it was: each request's scope drops
    its views and frees its cuts, the ops' included.  The RDDs are compared
    as id sets, so a ContextCleaner pass during the test cannot fail it."""
    from tests.conftest import SF_DIR
    from wvlet_spark import WvletSession
    from wvlet_spark.server import WvletServer
    from wvlet_spark.suite import SUITE

    def held():
        views = [t.name for t in spark.catalog.listTables()
                 if t.name.startswith("__wv_")]
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys()), \
            len(views)

    cheap = ["tpch_q6", "bare_count", "values_inline", "with_cte",
             "set_ops", "null_handling", "select_distinct", "agg_sugar",
             "case_if_expr", "window_rank", "exists_subquery", "tpch_q3",
             "anti_join_not_in", "having_filter", "column_ops"]
    names = (STAGING + cheap) * 10
    calls = ["call minhash_pairs(table='documents')",
             "call dup_spans(table='documents')"] * 3
    srv = WvletServer(WvletSession(spark, table_dir=SF_DIR))
    rdds, views = held()
    for q in [SUITE[n][0] for n in names] + calls:
        info = srv.execute_request({"query": q})
        assert info["error"] is None, (q, info["error"])
    assert len(names) >= 200
    after_rdds, after_views = held()
    assert after_rdds <= rdds and after_views == views
