"""Interactive query server — the reference's `wvlet-server` FrontendApi
re-expressed over HTTP/JSON (reference: wvlet-api v1/frontend/
FrontendApi.scala `status` / `submitQuery` / `getQueryInfo`, query shapes
v1/query/QueryRequest.scala, QueryInfo.scala; execution via
WvletScriptRunner.runStatement with QuerySelector statement selection).

Endpoints (JSON in/out, stdlib http.server — the environment is
dependency-frozen):

  GET  /  (also /ui)
      -> the playground page (wvlet_spark.ui.PLAYGROUND_HTML) — a
         dependency-free editor + result grid over these endpoints
  GET  /v1/status
      -> {"version", "upTimeSec"}
  POST /v1/query
      {"query": "...", "querySelection": "subquery|describe|single|
       all_before|all", "line": <1-indexed cursor line | null>,
       "maxRows": 40, "isTestRun": true}
      -> {"queryId", "status": "finished|failed", "columns": [...],
          "rows": [[...]], "rowCount", "clipped", "sql", "elapsedMs",
          "error": null | {"message"}, "testResults": [[ok, msg], ...]}
      `sql` is the Spark SQL the run executed for its last query
      statement (null when it ran none).
  GET  /v1/query/<queryId>
      -> the same QueryInfo again (results are kept for `history` ids)

Queries execute synchronously per request (Spark local mode answers
preview-sized queries in well under a request timeout); the async
submit/poll split of the reference is collapsed into one call, with
getQueryInfo serving the recorded result.  Sessions: one WvletSession per
server, matching the reference's default shared session.  Requests are
isolated: each runs in its own RunScope (its test mode, test results,
staged views and checkpoints), closed once its rows are collected, so
concurrent requests neither see each other's results nor leave staged
data pinned.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _json_default(v):
    return str(v)


class WvletServer:
    """Wraps a WvletSession behind the FrontendApi HTTP surface."""

    def __init__(self, session, host: str = "127.0.0.1", port: int = 0,
                 default_max_rows: int = 40, history_limit: int = 100):
        from wvlet_spark import __version__

        self.session = session
        self.version = __version__
        self.default_max_rows = default_max_rows
        self.history_limit = history_limit
        self._started = time.monotonic()
        self._history: dict[str, dict] = {}
        self._hist_lock = threading.Lock()
        self._n = 0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, obj) -> None:
                body = json.dumps(obj, default=_json_default).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path in ("/", "/ui", "/index.html"):
                    from wvlet_spark.ui import PLAYGROUND_HTML
                    body = PLAYGROUND_HTML.encode("utf-8")
                    self.send_response(200)
                    self.send_header(
                        "Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if self.path == "/v1/status":
                    self._send(200, {
                        "version": outer.version,
                        "upTimeSec": round(
                            time.monotonic() - outer._started, 3),
                    })
                    return
                if self.path == "/v1/flows":
                    self._send(200, outer.flows_info())
                    return
                if self.path.startswith("/v1/query/"):
                    qid = self.path.rsplit("/", 1)[-1]
                    with outer._hist_lock:
                        info = outer._history.get(qid)
                    if info is None:
                        self._send(404, {"error": f"unknown query {qid}"})
                    else:
                        self._send(200, info)
                    return
                self._send(404, {"error": "unknown endpoint"})

            def do_POST(self):
                if self.path != "/v1/query":
                    self._send(404, {"error": "unknown endpoint"})
                    return
                length = int(self.headers.get("Content-Length", 0))
                try:
                    req = json.loads(self.rfile.read(length) or b"{}")
                except json.JSONDecodeError:
                    self._send(400, {"error": "invalid JSON body"})
                    return
                info = outer.execute_request(req)
                self._send(200 if info["error"] is None else 400, info)

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------- control

    def start(self) -> "WvletServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    # ------------------------------------------------------------- flows

    def flows_info(self) -> dict:
        """Declared flows + recorded runs (reference FlowRunsPage data:
        wvlet-ui/src/main/scala/wvlet/lang/ui/component/flow/
        FlowRunsPage.scala over the SQLiteFlowRunStore)."""
        flows = [
            {"name": name, "stages": [s.name for s in fd.stages]}
            for name, fd in getattr(self.session, "_flows", {}).items()
        ]
        runs: dict[str, dict] = {}
        if self.session._flow_executor is not None:
            for (run_id, flow, stage, state, attempts, error) in \
                    self.session.flow_executor.store.runs():
                r = runs.setdefault(run_id, {"runId": run_id, "flow": flow,
                                             "stages": []})
                r["stages"].append({"stage": stage, "state": state,
                                    "attempts": attempts, "error": error})
        return {"flows": flows, "runs": list(runs.values())}

    # ------------------------------------------------------------- execute

    def execute_request(self, req: dict) -> dict:
        from wvlet_spark.selector import select_text

        with self._hist_lock:
            self._n += 1
            qid = f"q_{self._n:06d}"
        text = req.get("query", "")
        mode = req.get("querySelection", "subquery")
        line = req.get("line")
        max_rows = int(req.get("maxRows") or self.default_max_rows)
        t0 = time.perf_counter()
        info = {
            "queryId": qid, "status": "failed", "columns": [], "rows": [],
            "rowCount": 0, "clipped": False, "sql": None,
            "elapsedMs": 0, "error": None, "testResults": [],
        }
        try:
            selected = select_text(text, line, mode)
            with self.session.scope(
                    test_mode=bool(req.get("isTestRun", True))) as scope:
                df = self.session.run(selected)
                if df is not None:
                    rows = df.limit(max_rows + 1).collect()
                    info["clipped"] = len(rows) > max_rows
                    rows = rows[:max_rows]
                    info["columns"] = df.columns
                    info["rows"] = [list(r) for r in rows]
                    info["rowCount"] = len(rows)
            info["sql"] = scope.sql
            info["status"] = "finished"
            info["testResults"] = [[ok, msg] for ok, msg in scope.test_results]
        except Exception as ex:
            info["error"] = {"message": str(ex)[:500],
                             "type": type(ex).__name__}
        info["elapsedMs"] = round((time.perf_counter() - t0) * 1000, 1)
        with self._hist_lock:
            self._history[qid] = info
            while len(self._history) > self.history_limit:
                self._history.pop(next(iter(self._history)))
        return info


def serve(session, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking entry point (used by `python -m wvlet_spark serve`)."""
    server = WvletServer(session, host, port)
    print(f"wvlet-spark server listening on http://{host}:{server.port}")
    try:
        server.httpd.serve_forever()
    except KeyboardInterrupt:
        server.stop()
