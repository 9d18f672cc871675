"""Flow / orchestration executor — the workflow DSL runtime.

A fresh implementation of the semantics described by the reference's
flow DSL (model/plan/flow.scala, runner/FlowExecutor.scala ~1481 LoC,
runner/FlowScheduler.scala, runner/SQLiteFlowRunStore.scala; docs
website/docs/syntax/flow.md):

- a flow is a DAG of named stages; stage bodies are queries executed on
  Spark, with outputs materialized as run-scoped tables
  ``__wv_flow_<run_id>_<stage>``
- data deps come from ``from a, b`` / body table refs / merges; control
  deps from ``depends on``; conditional triggers from
  ``if a.failed and b.done``
- stages retry with constant/linear/exponential backoff and per-attempt
  timeouts; unsatisfied triggers or failed upstreams mark stages SKIPPED /
  UPSTREAM_FAILED
- ``route`` splits a stage's output to target stages by predicate or by
  deterministic hash-percentage buckets (A/B style)
- ``wait('5s')`` sleeps; ``wait until { query }`` polls until the query
  yields a row; ``activate('sink', ...)`` delivers output to a side channel
- runs persist to a SQLite run store; a resumed run skips stages that
  already SUCCEEDED in the run being resumed
- ``run flow F(args)`` returns the run summary as a relation
  (stage, state, attempts, error)

Executed as plain Python orchestration *around* Spark actions: the DAG
scheduler is driver-side bookkeeping; all data movement stays in Spark.
"""

from __future__ import annotations

import contextvars
import re
import sqlite3
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor, Future
from dataclasses import dataclass, field

from wvlet_spark import nodes as N
from wvlet_spark.analyzer import cte_names, transform, walk
from wvlet_spark.session import RunScope, _current, checkpoint

# terminal stage states — lowercase vocabulary matches the reference's
# run-summary output (spec/basic/flow-run.wv: success/failed/skipped;
# a stage downstream of a failure is `skipped`)
SUCCEEDED = "success"
FAILED = "failed"
SKIPPED = "skipped"
UPSTREAM_FAILED = "skipped"
# live states
PENDING = "pending"
RUNNING = "running"

TERMINAL = {SUCCEEDED, FAILED, SKIPPED, UPSTREAM_FAILED}

_DUR_RE = re.compile(r"^(\d+(?:\.\d+)?)\s*(ms|s|m|h|d|w|sec|second|seconds|min|minute|minutes|hour|hours|day|days|week|weeks)?$")

_DUR_UNIT_MS = {
    None: 1000.0, "ms": 1.0, "s": 1000.0, "sec": 1000.0, "second": 1000.0,
    "seconds": 1000.0, "m": 60_000.0, "min": 60_000.0, "minute": 60_000.0,
    "minutes": 60_000.0, "h": 3_600_000.0, "hour": 3_600_000.0,
    "hours": 3_600_000.0, "d": 86_400_000.0, "day": 86_400_000.0,
    "days": 86_400_000.0, "w": 604_800_000.0, "week": 604_800_000.0,
    "weeks": 604_800_000.0,
}


def parse_duration_ms(text: str) -> float:
    """'5s' | '100ms' | '7 days' | '1.5h' -> milliseconds."""
    t = str(text).strip().strip("'\"")
    m = _DUR_RE.match(t.replace(" ", ""))
    if not m:
        raise ValueError(f"bad duration: {text!r}")
    return float(m.group(1)) * _DUR_UNIT_MS[m.group(2)]


# ---------------------------------------------------------------------------
# cron (5-field, standard subset: * , - / and numbers)
# ---------------------------------------------------------------------------


def _cron_field(spec: str, lo: int, hi: int) -> set[int]:
    vals: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, s = part.split("/")
            step = int(s)
        # steps are anchored at the range's own start (standard cron:
        # 10-50/15 -> {10,25,40}; a bare start like 3/5 means 3-max/5)
        if part in ("*", ""):
            start, end = lo, hi
        elif "-" in part:
            a, b = part.split("-")
            start, end = int(a), int(b)
        else:
            start = int(part)
            end = hi if step > 1 else start
        vals.update(range(start, end + 1, step))
    return vals


def cron_next_fire(expr: str, after: tuple[int, int, int, int, int, int]) -> tuple:
    """Next (year, month, day, hour, minute) matching a 5-field cron
    expression, strictly after the given (y, mo, d, h, mi, weekday) time.
    weekday: 0=Monday (python convention); cron uses 0=Sunday — converted
    internally.  Pure arithmetic so it is unit-testable without clocks."""
    import datetime as dt

    minute, hour, dom, month, dow = expr.split()
    m_ok = _cron_field(minute, 0, 59)
    h_ok = _cron_field(hour, 0, 23)
    dom_ok = _cron_field(dom, 1, 31)
    mo_ok = _cron_field(month, 1, 12)
    dow_ok = _cron_field(dow, 0, 6)  # cron: 0=Sunday

    t = dt.datetime(*after[:5]) + dt.timedelta(minutes=1)
    t = t.replace(second=0, microsecond=0)
    for _ in range(366 * 24 * 60):  # bounded search: one year of minutes
        cron_dow = (t.weekday() + 1) % 7  # python Monday=0 -> cron Sunday=0
        if (t.minute in m_ok and t.hour in h_ok and t.month in mo_ok
                and t.day in dom_ok and cron_dow in dow_ok):
            return (t.year, t.month, t.day, t.hour, t.minute)
        t += dt.timedelta(minutes=1)
    raise ValueError(f"cron expression never fires: {expr!r}")


# ---------------------------------------------------------------------------
# run store (sqlite, same role as the reference's SQLiteFlowRunStore)
# ---------------------------------------------------------------------------


class FlowRunStore:
    def __init__(self, path: str = ":memory:"):
        self._path = path
        self._lock = threading.Lock()
        self._con = sqlite3.connect(path, check_same_thread=False)
        self._con.execute(
            """CREATE TABLE IF NOT EXISTS flow_runs (
                 run_id TEXT, flow TEXT, stage TEXT, state TEXT,
                 attempts INTEGER, error TEXT, started REAL, finished REAL,
                 PRIMARY KEY (run_id, stage))"""
        )
        self._con.commit()

    def record(self, run_id: str, flow: str, stage: str, state: str,
               attempts: int = 0, error: str | None = None,
               started: float | None = None, finished: float | None = None):
        with self._lock:
            self._con.execute(
                "INSERT OR REPLACE INTO flow_runs VALUES (?,?,?,?,?,?,?,?)",
                (run_id, flow, stage, state, attempts, error, started, finished))
            self._con.commit()

    def stage_states(self, run_id: str) -> dict[str, str]:
        with self._lock:
            rows = self._con.execute(
                "SELECT stage, state FROM flow_runs WHERE run_id = ?",
                (run_id,)).fetchall()
        return dict(rows)

    def runs(self, flow: str | None = None) -> list[tuple]:
        q = "SELECT run_id, flow, stage, state, attempts, error FROM flow_runs"
        args: tuple = ()
        if flow:
            q += " WHERE flow = ?"
            args = (flow,)
        with self._lock:
            return self._con.execute(q, args).fetchall()


# ---------------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------------


@dataclass
class _StageRun:
    stage: N.StageDef
    state: str = PENDING
    attempts: int = 0
    error: str | None = None
    started: float | None = None
    finished: float | None = None
    future: Future | None = None


class FlowExecutor:
    """DAG state machine over Spark actions.

    session: a WvletSession — used to lower stage bodies to DataFrames.
    Stage outputs are registered as temp views named both
    ``__wv_flow_<run_id>_<stage>`` (run-scoped, cached) and ``<stage>``
    (so downstream bodies can say ``from <stage>``).
    """

    def __init__(self, session, run_store: FlowRunStore | None = None,
                 activation_sinks: dict | None = None):
        self.session = session
        self.store = run_store or FlowRunStore()
        self.activations: list[dict] = []   # records of activate() deliveries
        self.sinks = {"log": self._sink_log, "memory": self._sink_memory}
        # per-run stage-name -> run-scoped view mapping; stage outputs are
        # ONLY registered under run-scoped names so concurrent runs of the
        # same flow never read each other's outputs and user tables with a
        # stage's name are never clobbered
        self._scopes: dict[str, dict[str, str]] = {}
        if activation_sinks:
            self.sinks.update(activation_sinks)

    # -- activation sinks ---------------------------------------------------

    def _sink_log(self, record: dict):
        print(f"[flow activate] {record['sink']}: {record.get('template','')} "
              f"rows={record.get('rows')}")

    def _sink_memory(self, record: dict):
        pass  # record already appended to self.activations

    # -- public API ---------------------------------------------------------

    def validate(self, flow: N.FlowDef) -> None:
        """Definition-time wiring checks, so a broken flow is rejected when
        it is declared, not when it first runs (reference spec/neg/
        flow-merge-undefined-stage.wv, flow-trigger-undefined-stage.wv)."""
        from wvlet_spark.generator import CompileError

        names = {st.name for st in flow.stages} | {mg.name for mg in flow.merges}
        for mg in flow.merges:
            unknown = [s for s in mg.sources if s not in names]
            if unknown:
                raise CompileError(
                    f"flow {flow.name!r}: merge {mg.name!r} references "
                    f"undefined stage(s) {unknown}")
        for st in flow.stages:
            if st.condition is not None:
                unknown = [r for r in self._cond_stage_refs(st.condition)
                           if r not in names]
                if unknown:
                    raise CompileError(
                        f"flow {flow.name!r}: stage {st.name!r} trigger "
                        f"references undefined stage(s) {unknown}")
            if st.kind in ("merge", "activate", "end", "jump"):
                # these kinds consume stage outputs only — every source
                # must name a stage (query-stage sources may be tables)
                unknown = [s for s in st.sources if s not in names]
                if unknown:
                    raise CompileError(
                        f"flow {flow.name!r}: {st.kind} stage {st.name!r} "
                        f"references undefined stage(s) {unknown}")

    def run(self, flow: N.FlowDef, args: dict | None = None,
            resume_run_id: str | None = None) -> list[dict]:
        """Execute the flow; returns the summary rows
        [{stage, state, attempts, error}, ...] in definition order."""
        run_id = resume_run_id or uuid.uuid4().hex[:12]
        prior = self.store.stage_states(run_id) if resume_run_id else {}

        stages: dict[str, _StageRun] = {}
        for st in flow.stages:
            stages[st.name] = _StageRun(st)
        # merges become synthetic union/join stages
        for mg in flow.merges:
            st = N.StageDef(mg.name, kind="merge", sources=list(mg.sources))
            st.action["on"] = mg.on
            stages[mg.name] = _StageRun(st)

        route_by_target: dict[str, tuple[N.FlowRoute, int]] = {}
        flows_by_name = getattr(self.session, "_flows", {})
        for route in flow.routes:
            for i, case in enumerate(route.cases):
                tgt = case.target
                if tgt not in stages and (tgt == "end" or tgt in flows_by_name):
                    # `case ... -> end` terminates the path; `case ... ->
                    # OtherFlow` jumps to another flow (flow.scala FlowJump /
                    # FlowEnd).  Synthesize the stage the case routes to.
                    kind = "end" if tgt == "end" else "jump"
                    name = f"__{kind}_{route.source}_{i}"
                    st = N.StageDef(name, kind=kind, sources=[route.source])
                    if kind == "jump":
                        st.action["target_flow"] = tgt
                    stages[name] = _StageRun(st)
                    route_by_target[name] = (route, i)
                else:
                    route_by_target[tgt] = (route, i)

        deps = {name: self._stage_deps(sr.stage, set(stages), route_by_target)
                for name, sr in stages.items()}
        # sanity: unknown dep names are an error (mirrors the reference's
        # undefined-stage compile errors in spec/neg/)
        for name, ds in deps.items():
            unknown = [d for d in ds if d not in stages]
            if unknown:
                raise ValueError(f"stage {name!r} depends on undefined stage(s) {unknown}")

        concurrency = int(self._const(flow.config.get("concurrency"), 4))
        bound_args = self._bind_args(flow, args or {})
        self._scopes[run_id] = {name: self._stage_table(run_id, name)
                                for name in stages}

        # resume: mark previously-succeeded stages (their run-scoped views
        # must still exist in this session)
        for name, sr in stages.items():
            if prior.get(name) == SUCCEEDED:
                table = self._stage_table(run_id, name)
                try:
                    self.session.spark.table(table)
                    sr.state = SUCCEEDED
                except Exception:
                    pass  # table gone — re-run the stage

        pool = ThreadPoolExecutor(max_workers=max(1, concurrency))
        try:
            while True:
                # collect finished futures
                for name, sr in stages.items():
                    if sr.state == RUNNING and sr.future is not None and sr.future.done():
                        self._finish(run_id, flow, sr)
                # launch ready stages
                progress = False
                for name, sr in stages.items():
                    if sr.state != PENDING:
                        continue
                    ds = deps[name]
                    if not all(stages[d].state in TERMINAL for d in ds):
                        continue
                    verdict = self._trigger_verdict(sr.stage, ds, stages)
                    if verdict == "skip":
                        sr.state = SKIPPED if sr.stage.condition is not None else UPSTREAM_FAILED
                        self.store.record(run_id, flow.name, name, sr.state)
                        progress = True
                        continue
                    sr.state = RUNNING
                    sr.started = time.time()
                    # the stage body runs in the `run flow` statement's
                    # RunScope, which lives in the submitting context
                    sr.future = pool.submit(
                        contextvars.copy_context().run,
                        self._run_stage_with_retries, run_id, flow, sr,
                        bound_args, route_by_target)
                    progress = True
                if all(sr.state in TERMINAL for sr in stages.values()):
                    break
                if not progress:
                    time.sleep(0.02)
        finally:
            pool.shutdown(wait=True)
            # drain any finishes recorded between last poll and shutdown
            for name, sr in stages.items():
                if sr.state == RUNNING and sr.future is not None:
                    self._finish(run_id, flow, sr)
            self._scopes.pop(run_id, None)

        order = [st.name for st in flow.stages] + [m.name for m in flow.merges] \
            + [n for n in stages if n.startswith("__jump_") or n.startswith("__end_")]
        return [
            {"stage": name, "state": stages[name].state,
             "attempts": stages[name].attempts,
             "error": stages[name].error, "run_id": run_id}
            for name in order
        ]

    # -- internals ----------------------------------------------------------

    def _stage_table(self, run_id: str, name: str) -> str:
        return f"__wv_flow_{run_id}_{name}"

    def _bind_args(self, flow: N.FlowDef, args: dict) -> dict:
        declared = {p[0] for p in flow.params}
        unknown = [k for k in args if k not in declared]
        if unknown:
            # reference spec/neg/flow-run-unknown-param.wv: binding an
            # argument no parameter declares is a compile-time error
            raise ValueError(
                f"flow {flow.name!r}: unknown argument(s) {unknown}; "
                f"declared parameters: {sorted(declared)}")
        bound = {}
        for pname, _ptype, default in flow.params:
            if pname in args:
                bound[pname] = self._const(args[pname], None)
            elif default is not None:
                bound[pname] = self._const(default, None)
            else:
                raise ValueError(f"flow {flow.name!r}: missing argument {pname!r}")
        return bound

    def _const(self, e, default):
        """Literal expr -> python value."""
        if e is None:
            return default
        if isinstance(e, N.Literal):
            return e.value
        if isinstance(e, N.Ident):
            return e.name
        if isinstance(e, (int, float, str)):
            return e
        return default

    def _stage_deps(self, st: N.StageDef, stage_names: set,
                    route_by_target: dict) -> set[str]:
        ds = set(st.sources) | set(st.depends)
        if st.name in route_by_target:
            ds.add(route_by_target[st.name][0].source)
        if st.body is not None:
            ds |= self._body_table_refs(st.body, stage_names)
        if st.condition is not None:
            ds |= {n for n in self._cond_stage_refs(st.condition) if n in stage_names}
        if st.kind in ("activate", "end") and not ds and st.sources:
            ds = set(st.sources)
        return ds

    def _body_table_refs(self, rel, stage_names: set) -> set[str]:
        # a name a WITH in the body binds is that CTE, not the stage
        names = stage_names - cte_names(rel)
        return {n.name for n in walk(rel)
                if isinstance(n, N.TableRef) and n.name in names}

    def _cond_stage_refs(self, cond) -> set[str]:
        """Names referenced as x.failed / x.done / x.succeeded in a trigger."""
        refs: set[str] = set()

        def walk(e):
            if isinstance(e, (N.And, N.Or)):
                walk(e.left); walk(e.right)
            elif isinstance(e, N.Not):
                walk(e.expr)
            elif isinstance(e, N.Ref) and isinstance(e.qualifier, N.Ident):
                refs.add(e.qualifier.name)
            elif isinstance(e, N.MethodCall):
                if isinstance(e.target, N.Ident):
                    refs.add(e.target.name)

        walk(cond)
        return refs

    def _trigger_verdict(self, st: N.StageDef, deps: set[str],
                         stages: dict) -> str:
        """'run' | 'skip' once all deps are terminal."""
        if st.condition is not None:
            return "run" if self._eval_trigger(st.condition, stages) else "skip"
        # default: run iff every dep succeeded
        for d in deps:
            if stages[d].state != SUCCEEDED:
                return "skip"
        return "run"

    def _eval_trigger(self, e, stages: dict) -> bool:
        if isinstance(e, N.And):
            return self._eval_trigger(e.left, stages) and self._eval_trigger(e.right, stages)
        if isinstance(e, N.Or):
            return self._eval_trigger(e.left, stages) or self._eval_trigger(e.right, stages)
        if isinstance(e, N.Not):
            return not self._eval_trigger(e.expr, stages)
        name, prop = None, None
        if isinstance(e, N.Ref) and isinstance(e.qualifier, N.Ident):
            name, prop = e.qualifier.name, e.name
        elif isinstance(e, N.MethodCall) and isinstance(e.target, N.Ident):
            name, prop = e.target.name, e.method
        if name is None or name not in stages:
            raise ValueError(f"cannot evaluate flow trigger on {e!r}")
        state = stages[name].state
        if prop in ("failed",):
            return state == FAILED
        if prop in ("done", "succeeded", "success"):
            return state == SUCCEEDED
        if prop in ("skipped",):
            return state == SKIPPED
        if prop in ("finished", "completed"):
            return state in TERMINAL
        raise ValueError(f"unknown trigger property {prop!r}")

    # -- stage execution ----------------------------------------------------

    def _run_stage_with_retries(self, run_id, flow, sr: _StageRun,
                                bound_args, route_by_target):
        st = sr.stage
        retries = int(self._const(st.config.get("retries"), 0))
        delay_ms = self._duration_cfg(st.config.get("retry_delay"), 0.0)
        backoff = self._const(st.config.get("backoff"), "constant")
        timeout_ms = self._duration_cfg(st.config.get("timeout"), None)

        attempt = 0
        while True:
            attempt += 1
            sr.attempts = attempt
            try:
                if timeout_ms is not None:
                    # per-attempt timeout: run in a nested single thread;
                    # on timeout the stale attempt is abandoned (no wait) so
                    # the retry loop proceeds instead of blocking on shutdown
                    inner = ThreadPoolExecutor(max_workers=1)
                    fut = inner.submit(contextvars.copy_context().run,
                                       self._run_stage_once, run_id, flow,
                                       sr, bound_args, route_by_target)
                    try:
                        fut.result(timeout=timeout_ms / 1000.0)
                    finally:
                        inner.shutdown(wait=False, cancel_futures=True)
                else:
                    self._run_stage_once(run_id, flow, sr, bound_args, route_by_target)
                return None
            except Exception as ex:  # noqa: BLE001 — stage errors become state
                err = f"{type(ex).__name__}: {ex}"
                if attempt > retries:
                    return err
                mult = {"constant": 1, "linear": attempt,
                        "exponential": 2 ** (attempt - 1)}.get(str(backoff), 1)
                time.sleep(delay_ms * mult / 1000.0)

    def _duration_cfg(self, v, default):
        if v is None:
            return default
        if isinstance(v, N.Literal):
            if v.kind == "duration" or isinstance(v.value, str):
                return parse_duration_ms(v.value)
            return float(v.value) * 1000.0
        return parse_duration_ms(str(v))

    def _materialize_passthrough(self, run_id: str, st: N.StageDef) -> None:
        """wait/activate stages forward their upstream unchanged so
        downstream `from <stage>` reads resolve (spec/basic/flow-run.wv
        JourneyPipeline: entry | wait | activate | end)."""
        spark = self.session.spark
        upstream = st.sources[0] if st.sources else None
        if upstream is None:
            return
        try:
            df = spark.table(self._scope_ref(run_id, upstream))
        except Exception:
            return
        df.createOrReplaceTempView(self._stage_table(run_id, st.name))

    def _run_stage_once(self, run_id, flow, sr: _StageRun, bound_args,
                        route_by_target):
        st = sr.stage
        spark = self.session.spark
        if st.kind == "wait":
            time.sleep(parse_duration_ms(st.action["duration"]) / 1000.0)
            self._materialize_passthrough(run_id, st)
            return
        if st.kind == "wait_until":
            poll_ms = self._duration_cfg(st.config.get("poll_interval"), 200.0)
            timeout_ms = self._duration_cfg(st.config.get("timeout"), 60_000.0)
            deadline = time.time() + timeout_ms / 1000.0
            while True:
                df = self._lower_body(st.body, run_id, bound_args, st, route_by_target)
                if df.limit(1).count() > 0:
                    return
                if time.time() >= deadline:
                    raise TimeoutError(f"wait until condition never satisfied in stage {st.name!r}")
                time.sleep(poll_ms / 1000.0)
        if st.kind == "activate":
            sink = str(st.action.get("sink", "log")).strip("'\"")
            upstream = st.sources[0] if st.sources else None
            rows = None
            payload = None
            if upstream:
                df = spark.table(self._scope_ref(run_id, upstream))
                collected = df.limit(100).collect()
                rows = len(collected)
                payload = [r.asDict() for r in collected]
            record = {
                "run_id": run_id, "stage": st.name, "sink": sink,
                "template": self._const(st.action.get("template"), None),
                "rows": rows, "payload": payload,
            }
            self.activations.append(record)
            handler = self.sinks.get(sink, self._sink_log)
            handler(record)
            self._materialize_passthrough(run_id, st)
            return
        if st.kind == "end":
            return
        if st.kind == "jump":
            # transfer control to another flow (reference: FlowJump)
            target = st.action.get("target_flow")
            flows_by_name = getattr(self.session, "_flows", {})
            if target not in flows_by_name:
                raise ValueError(f"jump target flow {target!r} is not defined")
            summary = self.run(flows_by_name[target])
            bad = [s for s in summary
                   if s["state"] not in (SUCCEEDED, SKIPPED)]
            if bad:
                raise RuntimeError(
                    f"jump target flow {target!r} failed at stage "
                    f"{bad[0]['stage']!r}: {bad[0]['error']}")
            return
        if st.kind == "merge":
            from pyspark.sql import functions as F

            dfs = [spark.table(self._scope_ref(run_id, s)) for s in st.sources]
            on = st.action.get("on")
            if on is not None:
                out = dfs[0]
                cond_sql = self.session.expr_sql(on)
                for other in dfs[1:]:
                    out = out.join(other, on=F.expr(cond_sql))
            else:
                out = dfs[0]
                for other in dfs[1:]:
                    out = out.unionByName(other, allowMissingColumns=True)
            self._materialize(run_id, st.name, out)
            return
        # plain query stage
        df = self._lower_body(st.body, run_id, bound_args, st, route_by_target)
        self._materialize(run_id, st.name, df)

    def _lower_body(self, body, run_id, bound_args, st, route_by_target):
        """Lower a stage body Relation to a DataFrame, with flow args bound
        and route-source reads redirected to this stage's routed slice."""
        rel = body
        if st.name in route_by_target:
            route, case_idx = route_by_target[st.name]
            routed_view = self._ensure_route_views(run_id, route)
            rel = self._rewrite_table_refs(rel, {route.source: routed_view[case_idx]})
        scope = self._scopes.get(run_id)
        if scope:
            rel = self._rewrite_table_refs(rel, scope)
        return self.session.df_for_relation(rel, params=bound_args)

    def _rewrite_table_refs(self, rel, mapping: dict[str, str]):
        ctes = cte_names(rel)
        mapping = {k: v for k, v in mapping.items() if k not in ctes}

        def rel_fn(node):
            if not (isinstance(node, N.TableRef) and node.name in mapping):
                return node
            # alias the scoped view back to the stage name so qualified
            # refs (`clean.customer_id` in a join ON) still resolve
            # (spec/basic/flow-run.wv JoinPipeline)
            ref = N.TableRef(mapping[node.name])
            return ref if "." in node.name else N.AliasedRelation(ref, node.name)

        return transform(rel, rel_fn=rel_fn)

    def _ensure_route_views(self, run_id: str, route: N.FlowRoute) -> dict[int, str]:
        """Create one temp view per route case over the source stage's
        output; returns case_idx -> view name.

        Percentage cases use deterministic hash buckets (xxhash64 of the
        hash key, or of all columns) mod 100 — the same row always lands in
        the same bucket, which is what makes A/B routing reproducible.
        Conditional cases filter by predicate; `else` takes the remainder
        (NOT any previous predicate AND outside taken percentage ranges)."""
        from pyspark.sql import functions as F

        key = (run_id, route.source)
        cache = getattr(self, "_route_cache", None)
        if cache is None:
            cache = self._route_cache = {}
        if key in cache:
            return cache[key]

        spark = self.session.spark
        src = spark.table(self._scope_ref(run_id, route.source))
        if route.hash_key is not None:
            hk = F.expr(self.session.expr_sql(route.hash_key))
        else:
            hk = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in src.columns])
        bucket = F.pmod(F.xxhash64(hk), F.lit(100))

        views: dict[int, str] = {}
        pct_lo = 0
        taken_preds = []
        for i, case in enumerate(route.cases):
            if case.percent is not None:
                pred = (bucket >= pct_lo) & (bucket < pct_lo + case.percent)
                pct_lo += case.percent
            elif case.cond is not None:
                # `case _.age >= 18` — `_` refers to the routed relation's
                # current row (reference: spec/basic/flow-run.wv)
                def _drop_underscore(n):
                    if isinstance(n, (N.Ref, N.MethodCall)) and isinstance(
                            getattr(n, "qualifier", getattr(n, "target", None)),
                            N.Underscore):
                        return N.Ident(getattr(n, "name", getattr(n, "method", "")))
                    return n

                pred = F.expr(self.session.expr_sql(transform(case.cond, expr_fn=_drop_underscore)))
            else:  # else-case: remainder
                pred = ~self._any_pred(taken_preds) if taken_preds else F.lit(True)
            view = f"__wv_route_{run_id}_{route.source}_{i}"
            src.filter(pred).createOrReplaceTempView(view)
            views[i] = view
            if not case.is_else:
                taken_preds.append(pred)
        cache[key] = views
        return views

    @staticmethod
    def _any_pred(preds):
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    def _scope_ref(self, run_id: str, name: str) -> str:
        """Stage name -> this run's scoped view name (passthrough for
        ordinary tables)."""
        return self._scopes.get(run_id, {}).get(name, name)

    def _materialize(self, run_id: str, name: str, df):
        """Stage output: cache + register under the run-scoped name only;
        downstream reads are rewritten through _scope_ref.  `resume` reads
        it later, so its cut goes to a scope nobody closes."""
        with _current(RunScope()):
            df = checkpoint(df, eager=True)  # compute once, truncate lineage
        df.createOrReplaceTempView(self._stage_table(run_id, name))

    def _finish(self, run_id, flow, sr: _StageRun):
        err = sr.future.result()
        sr.finished = time.time()
        if err is None:
            sr.state = SUCCEEDED
            sr.error = None
        else:
            sr.state = FAILED
            sr.error = err
        sr.future = None
        self.store.record(run_id, flow.name, sr.stage.name, sr.state,
                          sr.attempts, sr.error, sr.started, sr.finished)


class FlowScheduler:
    """Cron-driven flow runs: computes next fire time from the flow's
    ``with {schedule: cron('m h dom mon dow')}`` config and triggers
    ``executor.run`` on a daemon thread.  `tick()` is exposed separately so
    tests can drive the schedule without wall-clock sleeps."""

    def __init__(self, executor: FlowExecutor):
        self.executor = executor
        self._jobs: list[tuple[N.FlowDef, str]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def add(self, flow: N.FlowDef):
        sched = flow.config.get("schedule")
        expr = None
        if isinstance(sched, N.FunctionApply) and sched.name == "cron" and sched.args:
            expr = sched.args[0].value if isinstance(sched.args[0], N.Literal) else None
        elif isinstance(sched, N.Literal):
            expr = sched.value
        if not expr:
            raise ValueError(f"flow {flow.name!r} has no cron schedule")
        self._jobs.append((flow, expr))

    def start(self, poll_s: float = 30.0):
        def loop():
            import datetime as dt
            fired: set[tuple] = set()
            while not self._stop.is_set():
                now = dt.datetime.now()
                key_now = (now.year, now.month, now.day, now.hour, now.minute, now.weekday())
                # probe strictly before `now` via datetime arithmetic —
                # naive minute-1 underflows to -1 at the top of each hour
                prev = now - dt.timedelta(minutes=1)
                for flow, expr in self._jobs:
                    try:
                        nxt = cron_next_fire(expr, (prev.year, prev.month, prev.day,
                                                    prev.hour, prev.minute, prev.weekday()))
                        if nxt[:5] == key_now[:5] and (flow.name, nxt) not in fired:
                            fired.add((flow.name, nxt))
                            self.executor.run(flow)
                    except Exception:  # noqa: BLE001 — one bad job must not
                        pass           # kill the scheduler thread
                self._stop.wait(poll_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
