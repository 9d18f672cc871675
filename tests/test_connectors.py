"""Remote (Trino-protocol HTTP) profile connector, tested against an
in-process mock server implementing the public /v1/statement REST shape
(start -> nextUri pages -> final page without nextUri)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest


class _MockTrino(BaseHTTPRequestHandler):
    """Serves SELECTs over one table `items` with nextUri paging.
    Class-level counters let tests assert invocation counts."""

    posts = 0
    gets = 0
    fail_mode = False

    columns = [
        {"name": "id", "type": "bigint"},
        {"name": "name", "type": "varchar(25)"},
        {"name": "score", "type": "double"},
        {"name": "day", "type": "date"},
    ]
    data_pages = [
        [[1, "alpha", 9.5, "2024-01-01"], [2, "beta", 3.25, "2024-01-02"]],
        [[3, "gamma", 7.0, "2024-01-03"]],
    ]

    def _send(self, obj):
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        type(self).posts += 1
        length = int(self.headers.get("Content-Length", 0))
        sql = self.rfile.read(length).decode()
        assert self.headers.get("X-Trino-User")
        if type(self).fail_mode:
            self._send({"id": "q_err", "error": {
                "message": f"line 1:1: Table not found in: {sql}"}})
            return
        base = f"http://{self.headers['Host']}"
        self._send({"id": "q1", "nextUri": f"{base}/v1/statement/q1/0"})

    def do_GET(self):
        type(self).gets += 1
        page = int(self.path.rsplit("/", 1)[-1])
        base = f"http://{self.headers['Host']}"
        out = {"id": "q1", "columns": self.columns,
               "data": self.data_pages[page]}
        if page + 1 < len(self.data_pages):
            out["nextUri"] = f"{base}/v1/statement/q1/{page + 1}"
        self._send(out)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def mock_trino():
    server = HTTPServer(("127.0.0.1", 0), _MockTrino)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    _MockTrino.posts = _MockTrino.gets = 0
    _MockTrino.fail_mode = False
    yield server.server_address[1]
    server.shutdown()


def test_trino_client_paging(mock_trino):
    from wvlet_spark.connectors import TrinoHttpClient

    c = TrinoHttpClient("127.0.0.1", mock_trino, poll_interval=0)
    cols, rows = c.execute("SELECT * FROM items")
    assert [x["name"] for x in cols] == ["id", "name", "score", "day"]
    assert len(rows) == 3          # both pages accumulated
    assert _MockTrino.posts == 1 and _MockTrino.gets == 2


def test_trino_client_error(mock_trino):
    from wvlet_spark.connectors import RemoteConnectorError, TrinoHttpClient

    _MockTrino.fail_mode = True
    c = TrinoHttpClient("127.0.0.1", mock_trino, poll_interval=0)
    with pytest.raises(RemoteConnectorError, match="Table not found"):
        c.execute("SELECT * FROM nope")


def test_trino_profile_query_through_engine(spark, mock_trino):
    """`from tr.items` fetches over HTTP, stages run-scoped, and joins /
    filters like any relation; temporal columns arrive typed."""
    import datetime

    from wvlet_spark import WvletSession

    ws = WvletSession(spark)
    ws.register_trino_profile("tr", "127.0.0.1", mock_trino,
                              user="tester", poll_interval=0)
    df = ws.run("""
from tr.items
where score > 5
select id, name, day
order by id
""")
    rows = [tuple(r) for r in df.collect()]
    assert rows == [(1, "alpha", datetime.date(2024, 1, 1)),
                    (3, "gamma", datetime.date(2024, 1, 3))]


def test_trino_profile_single_invocation_per_statement(spark, mock_trino):
    """A statement referencing the remote table twice (self-join) fetches
    ONCE; the next statement re-fetches (statement-scoped staging) — the
    reference's SourceTableStaging one-invocation semantics."""
    from wvlet_spark import WvletSession

    ws = WvletSession(spark)
    ws.register_trino_profile("tr", "127.0.0.1", mock_trino,
                              poll_interval=0)
    _MockTrino.posts = 0
    df = ws.run("""
from tr.items as a
join tr.items as b on a.id = b.id
select a.id
order by a.id
""")
    assert df.count() == 3
    assert _MockTrino.posts == 1
    ws.run("from tr.items select id")
    assert _MockTrino.posts == 2


def test_trino_profile_isolated_between_sessions(spark, mock_trino):
    """Two WvletSessions sharing one SparkSession stage under different
    ULID views — no cross-talk."""
    from wvlet_spark import WvletSession

    ws1 = WvletSession(spark)
    ws2 = WvletSession(spark)
    ws1.register_trino_profile("tr", "127.0.0.1", mock_trino,
                               poll_interval=0)
    ws2.register_trino_profile("tr", "127.0.0.1", mock_trino,
                               poll_interval=0)
    with ws1.scope() as s1, ws2.scope() as s2:
        a = ws1.run("from tr.items select id order by id")
        b = ws2.run("from tr.items select id order by id")
        assert [r.id for r in a.collect()] == [r.id for r in b.collect()] \
            == [1, 2, 3]
        views1 = set(s1.views)
        views2 = set(s2.views)
    assert views1 and views2 and views1.isdisjoint(views2)
