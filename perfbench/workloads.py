"""The two workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned.

- interactive: the oracled suite entries sent through
  `WvletServer.execute_request`, as an analyst at the REPL or server would,
  and the LLM-data ops of the bench.py headline set run through the same
  session; each entry runs twice, first in a pass of first executions,
  then in a pass of repeats.
- migrate: every DuckDB oracle statement converted by `sql_to_wvlet` and
  compiled back to SQL, with no JVM.

An operation that raises, or whose output check fails, counts as failed.
Output checks run once per run, outside the timed operations.
"""

from __future__ import annotations

import math
import os
import random
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from statistics import median

import bench
import common
from spans import Tracer, install

# the ops of the bench.py headline set and the three later ones
OPS = [n for n in bench.HEADLINE if n.startswith("ext_")] + [
    "ext_dup_spans", "ext_tfidf_terms", "ext_dup_clusters"]
# no DuckDB oracle: checked for a non-empty row count that stays the same
# from run to run
NO_ORACLE = {"ext_minhash_pairs"}
# statements that the SQL importer rejects, and statements whose conversion
# answers differently from the original on DuckDB, at the commit that added
# this benchmark.  They stay in the once-per-run corpus check and are
# reported, but are not timed, so that no timed operation fails.
KNOWN_CONVERT_FAILURES = {
    # SqlImportError
    "ext_boilerplate", "ext_canonical_docs", "ext_dup_clusters",
    # WvletSyntaxError: unexpected token '.'
    "ext_embedding_dedup", "ext_ivf_topk", "ext_lsh_topk", "ext_pca_project",
    "ext_semantic_dedup", "ext_semdedup_grouped",
}
KNOWN_ROUNDTRIP_MISMATCHES = {
    "ext_bloom_build", "ext_minhash_portable", "ext_simhash_portable",
    "ext_video_frames",
}
MAX_ROWS = 40
# fixed, seed-independent first queries of a session, none of them timed:
# they move one-time costs (first job, first join and window, JIT of the
# common paths) into set-up, so they do not land on whichever entry a seed
# puts first
WARMUP = [
    "from region",
    "from nation join region on n_regionkey = r_regionkey\n"
    "group by r_name agg n = _.count",
    "from supplier\n"
    "add r = rank() over (partition by s_nationkey order by s_acctbal)\n"
    "where r <= 2 select s_nationkey, r",
    "from supplier where s_nationkey in { from nation select n_nationkey }\n"
    "group by s_nationkey\n"
    "agg t = s_acctbal::decimal(18,2).sum::double\n"
    "order by t desc limit 3",
]
# ops outside the timed set run once on the check tables before timing,
# so that starting the Python workers and Arrow is set-up too (measured:
# whichever pandas-UDF op ran first took 2-5x longer)
OPS_WARMUP = ["ext_simhash_pairs", "ext_embedding_dedup"]


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    cpus: int
    t_process: float
    prep_s: float                  # benchmark's own preparation before set-up
    sf_dir: str
    check_dir: str
    trace_path: str


@dataclass
class Measured:
    """What a run measured, before it is summarized."""
    per_entry: dict[str, list[float]]  # timed latencies in s, per entry
    raised: dict[str, str]         # entry -> how its timed operations raised
    raised_ops: dict[str, int]     # timed operations that raised, per entry
    bad: dict[str, str]            # entry -> why it failed its check
    setup_s: float
    rss_mb: float
    steal_permille: float | None
    passes: int
    detail: dict = field(default_factory=dict)
    layers: dict | None = None     # per-layer metrics of a traced run


def interactive_entries() -> list[str]:
    from wvlet_spark.suite import SUITE

    return sorted(n for n, (_wv, osql) in SUITE.items() if osql) + OPS


def migrate_corpus() -> dict[str, str]:
    import __spark_entry__

    return dict(sorted(__spark_entry__.oracle_sql().items()))


def oracles(sf_dir: str, names: list[str]) -> dict[str, dict]:
    cache = common.OracleCache(sf_dir, common.data_digest(sf_dir))
    corpus = migrate_corpus()
    out = {n: cache.answer(corpus[n]) for n in names}
    cache.save()
    return out


def prepare(workload: str, sf_dir: str, check_dir: str) -> None:
    """Fill the oracle caches a workload reads."""
    if workload == "interactive":
        oracles(sf_dir, [n for n in interactive_entries()
                         if n not in NO_ORACLE])
    else:
        oracles(check_dir, list(migrate_corpus()))


def same_answer(original: dict, converted: dict) -> str:
    """'' when two cached DuckDB answers agree, else the reason."""
    for side, answer in (("original", original), ("converted", converted)):
        if "error" in answer:
            return f"{side} fails on DuckDB: {answer['error'][:120]}"
    if converted["columns"] != original["columns"]:
        return f"columns {converted['columns']} != {original['columns']}"
    if converted["rows"] != original["rows"]:
        return (f"{len(converted['rows'])} rows differ from the original's "
                f"{len(original['rows'])}")
    return ""


def check_rows(expected: dict, columns, rows, clipped_at: int | None = None
               ) -> str:
    """'' when `rows` match the oracle answer, else the reason.  With
    `clipped_at`, an answer longer than that many rows only has to contain
    the returned rows."""
    if "error" in expected:
        return f"oracle failed: {expected['error']}"
    if sorted(columns) != expected["columns"]:
        return f"columns {sorted(columns)} != {expected['columns']}"
    got = common.normalized(columns, rows)
    want = expected["rows"]
    if clipped_at is not None and len(want) > clipped_at:
        if len(got) != clipped_at:
            return f"{len(got)} rows returned, expected {clipped_at}"
        extra = Counter(got) - Counter(want)
        return f"{sum(extra.values())} rows not in the oracle" if extra else ""
    if got != want:
        extra = Counter(got) - Counter(want)
        return (f"{max(sum(extra.values()), 1)} of {len(want)} rows differ "
                f"from the oracle ({len(got)} returned)")
    return ""


# ----------------------------------------------------------------- tracing

# spans directly under which a collect is the operation's Spark action:
# the server's collect of a request, and the collect of an op's frame
ACTION_PARENTS = {"server.execute_request", "op"}


def spark_hooks(spark, tracer: Tracer, probe):
    """Wrappers for DataFrame.collect and SparkSession.sql.  A collect made
    directly under one of ACTION_PARENTS is the operation's Spark action;
    other collects are the engine's own probes.  Catalyst phase times of
    every collected or SQL-created DataFrame go into tracer.counts, each
    phase of a QueryExecution once (a DataFrame from spark.sql that is then
    collected shows its analysis at both hooks)."""
    from spark_probe import qe_phases_ms

    frame_class = type(spark.range(0))  # the classic, not the abstract, class
    identity = spark.sparkContext._jvm.System.identityHashCode
    counted: set[tuple[int, str]] = set()

    def add_phases(df) -> None:
        if tracer.op == 0:
            return  # set-up or a check, not a timed operation
        with tracer.span("trace.bookkeeping"):
            qe = df._jdf.queryExecution()
            key = identity(qe)
            for phase, ms in qe_phases_ms(qe).items():
                if (key, phase) not in counted:
                    counted.add((key, phase))
                    tracer.counts[f"catalyst.{phase}_ms"] += ms

    def collect_factory(orig):
        def collect(df):
            action = tracer.current() in ACTION_PARENTS
            if action:
                probe.action_starts()
            with tracer.span("exec.action" if action else "spark.collect"):
                rows = orig(df)
            add_phases(df)
            return rows
        return collect

    def sql_factory(orig):
        def sql(session, *args, **kwargs):
            with tracer.span("spark.sql"):
                df = orig(session, *args, **kwargs)
            add_phases(df)
            return df
        return sql

    return [(frame_class, "collect", collect_factory),
            (type(spark), "sql", sql_factory)]


class Tracing:
    """One traced run: the tracer, its wrappers and, once Spark is up, the
    Spark probe.  Wrappers go in before the session is built so that
    registration is traced too."""

    def __init__(self) -> None:
        self.tracer = Tracer()
        self.probe = None
        self._extra: list = []
        self._restore = install(self.tracer)

    def attach(self, spark) -> None:
        from spark_probe import SparkProbe

        self.probe = SparkProbe(spark)
        self._restore()
        self._extra = spark_hooks(spark, self.tracer, self.probe)
        self._restore = install(self.tracer, self._extra)

    def timed(self, fn):
        tracer = self.tracer
        if tracer.ops == 0:
            tracer.counts.clear()  # drop what set-up counted
        tracer.ops += 1
        tracer.op = tracer.ops
        if self.probe is not None:
            self.probe.begin(tracer.op)
        with tracer.span("op"):
            t = time.perf_counter()
            result = fn()
            latency = time.perf_counter() - t
        if self.probe is not None:
            self.probe.end()
        tracer.op = 0
        return latency, result

    def untraced(self, fn):
        self._restore()
        try:
            return plain_timed(fn)
        finally:
            self._restore = install(self.tracer, self._extra)

    def close(self) -> None:
        self._restore()


def plain_timed(fn):
    t = time.perf_counter()
    result = fn()
    return time.perf_counter() - t, result


@dataclass
class Raised:
    """What an operation that raised returns in place of its result."""
    why: str


def guarded(execute, name: str):
    """execute(name), or Raised when it raises; the traceback goes to
    standard error."""
    try:
        return execute(name)
    except Exception as ex:  # any error of the engine is a failed operation
        traceback.print_exc()
        return Raised(f"{type(ex).__name__}: {str(ex)[:200]}")


# -------------------------------------------------------------------- loop

class Loop:
    """Whole passes over `names`, each in a new order drawn from the seed,
    until `seconds` of operations have been timed and at least
    `min_passes` passes have run (a smoke run makes one pass)."""

    def __init__(self, ctx: Context, names: list[str], timer,
                 min_passes: int = 1) -> None:
        self.ctx = ctx
        self.names = names
        self.timer = timer
        self.min_passes = 1 if ctx.smoke else min_passes
        self.rng = random.Random(ctx.seed)
        self.per_entry: dict[str, list[float]] = {}
        # timed operations that raised, per entry, and the last reason
        self.raised: Counter = Counter()
        self.raised_why: dict[str, str] = {}
        self.passes = 0
        self.t_first: float | None = None

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def run(self, execute, after=None) -> None:
        """execute(name) runs one operation; after(name, result, first)
        runs untimed once it has returned, with `first` true on the first
        pass.  An operation that raises keeps its latency, counts as
        failed and passes a Raised to `after`."""
        timed = 0.0
        while self.passes < self.min_passes or (timed < self.ctx.seconds
                                                and not self.ctx.smoke):
            first = self.passes == 0
            for name in self.order():
                if self.t_first is None:
                    self.t_first = time.perf_counter()
                latency, result = self.timer(lambda: guarded(execute, name))
                timed += latency
                self.per_entry.setdefault(name, []).append(latency)
                if isinstance(result, Raised):
                    self.raised[name] += 1
                    self.raised_why[name] = result.why
                if after is not None:
                    after(name, result, first)
            self.passes += 1

    def measured(self, ctx: Context, bad: dict[str, str], rss_mb: float,
                 steal_permille, setup_s: float | None = None,
                 **detail) -> Measured:
        """What the loop measured; set-up is the time from process start
        to the first timed operation unless `setup_s` is given."""
        if setup_s is None:
            setup_s = self.t_first - ctx.t_process - ctx.prep_s
        return Measured(
            per_entry=self.per_entry, raised=self.raised_why,
            raised_ops=dict(self.raised), bad=bad,
            setup_s=setup_s, rss_mb=rss_mb, steal_permille=steal_permille,
            passes=self.passes, detail=detail)


def summarize(run: Measured) -> tuple[dict, dict]:
    """The run's result and detail line: end-to-end metrics, or the
    per-layer metrics of a traced run."""
    attempted = sum(len(v) for v in run.per_entry.values())
    # every operation of an entry that failed its check, and every other
    # operation that raised
    failed = sum(len(run.per_entry.get(n, [])) for n in run.bad) + sum(
        k for n, k in run.raised_ops.items() if n not in run.bad)
    failures = {**{n: f"raised {run.raised_ops[n]}x: {why}"
                   for n, why in run.raised.items()}, **run.bad}
    # an entry's latency is the median of its executions in the run, so a
    # stall in one execution moves neither the percentiles nor the rate
    lat_ms = [1000 * median(v) for v in run.per_entry.values()]
    pct, tail = common.percentile_tail(lat_ms)
    detail = {
        **run.detail, "steal_permille": run.steal_permille,
        "passes": run.passes, "samples": attempted,
        "tail_percentile": round(pct, 1), "tail_samples": len(lat_ms),
        "failures": failures,
        "entry_ms": {n: round(1000 * median(v), 3)
                     for n, v in sorted(run.per_entry.items())}}
    result = {"correct": not failures, "attempted": attempted,
              "failed": failed}
    if run.layers is not None:
        result["metrics"] = run.layers
    else:
        result["metrics"] = {
            "setup_s": run.setup_s,
            # a closed loop's rate: one pass of the entries, each at its
            # latency, over that pass's time
            "throughput_per_s": len(lat_ms) / (sum(lat_ms) / 1000),
            "latency_p50_ms": median(lat_ms),
            "latency_tail_ms": tail,
            "peak_rss_mb": run.rss_mb,
        }
    return result, detail


def layer_metrics(ctx: Context, tracing: Tracing, loop: Loop, steal,
                  op_entries: list[str], overhead) -> dict:
    """Per-layer metrics: times in ms per operation, counts per pass;
    `op_entries` are the entries that run an op of the ops layer.
    overhead() runs the paired traced/untraced pass, after the loop's
    spans and counts have been read."""
    tracer = tracing.tracer
    own = tracer.self_ms()
    c = Counter(tracer.counts)
    if tracing.probe is not None:
        c.update(tracing.probe.counts)
    os.makedirs(os.path.dirname(ctx.trace_path), exist_ok=True)
    tracer.dump(ctx.trace_path)
    ops = sum(len(v) for v in loop.per_entry.values())

    def per_op(ms: float) -> float:
        return ms / max(ops, 1)

    def per_pass(n: float) -> float:
        return n / max(loop.passes, 1)

    metrics = {
        "server.self_ms": per_op(own["server.execute_request"]),
        "server.compile_to_sql_ms": per_op(tracer.total_ms(
            "session.compile_to_sql", parent="server.execute_request")),
        "frontend.parse_ms": per_op(own["frontend.parse"]),
        "frontend.analyze_ms": per_op(own["frontend.analyze"]),
        "frontend.codegen_ms": per_op(own["frontend.codegen"]),
        "frontend.sql_chars": per_pass(c["frontend.sql_chars"]),
        "joinorder.ms": per_op(own["joinorder.reorder"]
                               + own["joinorder.stats"]),
        "joinorder.stats_calls": per_pass(tracer.calls("joinorder.stats")),
        "sql_import.convert_ms": per_op(own["sql_import.convert"]),
        "sql_import.failed": c["sql_import.failed"],
        "session.register_s": tracer.longest_ms("session.init") / 1000,
        "session.run_self_ms": per_op(own["session.run"]),
        "session.pre_action_jobs": per_pass(c["session.pre_action_jobs"]),
        "session.pinned_rdds": c["session.pinned_rdds"],
        "ops.build_ms": per_op(own["ops.build"]),
        "catalyst.analysis_ms": per_op(c["catalyst.analysis_ms"]),
        "catalyst.optimization_ms": per_op(c["catalyst.optimization_ms"]),
        "catalyst.planning_ms": per_op(c["catalyst.planning_ms"]),
        "exec.action_ms": per_op(tracer.total_ms("exec.action")),
        "exec.jobs": per_pass(c["exec.jobs"]),
        "exec.stages": per_pass(c["exec.stages"]),
        "exec.tasks": per_pass(c["exec.tasks"]),
        "exec.shuffle_write_mb": per_pass(c["exec.shuffle_write_mb"]),
        "exec.spill_mb": per_pass(c["exec.spill_mb"]),
        "exec.gc_ms": per_op(c["exec.gc_ms"]),
        "exec.python_rows": per_pass(c["exec.python_rows"]),
        # None only where /proc/stat cannot be read
        "env.steal_permille": steal if steal is not None else 0.0,
    }
    for name in OPS:
        lat = loop.per_entry.get(name) if name in op_entries else None
        metrics[f"ops.{name}_ms"] = 1000 * median(lat) if lat else 0.0
    metrics["trace.overhead_pct"] = overhead()
    return metrics


AB_ENTRIES = 8


def paired_overhead(tracing: Tracing, names: list[str], execute) -> float:
    """Run each of the first AB_ENTRIES entries once traced and once
    untraced, alternating which goes first; percent by which traced
    operations took longer (geometric mean of the per-entry ratios, so the
    first-of-pair effect cancels and long entries do not dominate)."""
    log_sum = 0.0
    pairs = names[:AB_ENTRIES]
    for i, name in enumerate(pairs):
        first_traced = i % 2 == 0
        times = {}
        for is_traced in (first_traced, not first_traced):
            if is_traced:
                times[True] = tracing.timed(
                    lambda: guarded(execute, name))[0]
            else:
                times[False] = tracing.untraced(
                    lambda: guarded(execute, name))[0]
        log_sum += math.log(times[True] / times[False])
    return 100.0 * (math.exp(log_sum / len(pairs)) - 1.0)


# ------------------------------------------------------- Spark workload

def start_spark(ctx: Context):
    """The measured SparkSession (bench._make_spark) and, in a traced run,
    the tracing attached to it."""
    tracing = Tracing() if ctx.trace else None
    spark = bench._make_spark(ctx.sf_dir, ctx.cpus)
    if tracing is not None:
        tracing.attach(spark)
    return spark, tracing


def jvm_pids(spark) -> list[int]:
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited (the JVM
    leaves when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# interactive passes: the first executions, then the repeats
INTERACTIVE_PASSES = 2


def interactive(ctx: Context) -> Measured:
    from wvlet_spark.ops import entry_queries
    from wvlet_spark.server import WvletServer
    from wvlet_spark.session import WvletSession
    from wvlet_spark.suite import SUITE

    from spark_probe import gc_ms

    names = interactive_entries()
    t = time.perf_counter()
    expected = oracles(ctx.sf_dir, [n for n in names if n not in NO_ORACLE])
    cache = common.OracleCache(ctx.sf_dir, common.data_digest(ctx.sf_dir))
    ctx.prep_s += time.perf_counter() - t

    spark, tracing = start_spark(ctx)
    server = None
    try:
        server = WvletServer(WvletSession(spark, table_dir=ctx.sf_dir))
        ext = entry_queries()
        for text in WARMUP:
            server.execute_request({"query": text, "maxRows": MAX_ROWS})
        for name in OPS_WARMUP:
            ext[name](spark, ctx.check_dir).collect()

        def build(name: str):
            if tracing is None:
                return ext[name](spark, ctx.sf_dir)
            with tracing.tracer.span("ops.build"):
                return ext[name](spark, ctx.sf_dir)

        def execute(name: str):
            if name in SUITE:
                return server.execute_request(
                    {"query": SUITE[name][0], "maxRows": MAX_ROWS})
            df = build(name)
            return df.columns, df.collect()

        bad: dict[str, str] = {}
        pids = jvm_pids(spark)
        rss = 0.0

        def after(name: str, result, first: bool) -> None:
            nonlocal rss
            # Spark stops Python workers that idle for a minute, and a
            # stopped worker's high-water mark is gone: sample after every
            # operation and keep the largest sum
            rss = max(rss, common.rss_hwm_mb(pids))
            if isinstance(result, Raised):
                return  # the loop counts it
            if name in SUITE and result["error"] is not None:
                bad[name] = f"{result['error']['type']}: " \
                            f"{result['error']['message'][:200]}"
                return
            if not first:
                return  # rows are checked on the first pass
            if name in SUITE:
                why = check_rows(expected[name], result["columns"],
                                 result["rows"], MAX_ROWS)
            elif name in NO_ORACLE:
                rows = len(result[1])
                want = cache.entries.setdefault(f"rowcount:{name}", rows)
                cache.dirty = True
                why = "" if rows and rows == want else \
                    f"{rows} rows, expected {want} (> 0)"
            else:
                why = check_rows(expected[name], *result)
            if why:
                bad[name] = why

        loop = Loop(ctx, names, tracing.timed if tracing else plain_timed,
                    INTERACTIVE_PASSES)
        steal = bench._StealMonitor()
        gc0 = gc_ms(spark)
        loop.run(execute, after)
        steal_permille = steal.permille()
        cache.save()
        # interactive sessions keep what the engine pinned: counted, not
        # freed (users do not free it either)
        pinned = len(spark.sparkContext._jsc.getPersistentRDDs())
        measured = loop.measured(
            ctx, bad, rss, steal_permille, checked=len(names),
            persistent_rdds=pinned, jvm_gc_ms=gc_ms(spark) - gc0,
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            data_digest=common.data_digest(ctx.sf_dir))
        if tracing is not None:
            tracing.tracer.counts["session.pinned_rdds"] = pinned
            measured.layers = layer_metrics(
                ctx, tracing, loop, steal_permille, OPS,
                lambda: paired_overhead(tracing, loop.order(), execute))
            measured.detail["trace_file"] = os.path.relpath(
                ctx.trace_path, common.ROOT)
        return measured
    finally:
        if tracing is not None:
            tracing.close()
        if server is not None:
            server.httpd.server_close()
        stop_spark(spark)


# ------------------------------------------------------------------ migrate

# fresh interpreters whose median start-up is migrate's setup_s
COLD_STARTS = 9
COLD_START = (
    "import sys\n"
    "from wvlet_spark import session, sql_import\n"
    "session.WvletSession(None).compile_to_sql("
    "sql_import.sql_to_wvlet(sys.stdin.read()))\n")


def cold_start_s(sql: str) -> float:
    """Wall time of a fresh interpreter that imports the engine, then
    converts and compiles `sql`: what one `wvlet compile` call pays before
    its first result."""
    t = time.perf_counter()
    subprocess.run([sys.executable, "-c", COLD_START], input=sql, text=True,
                   cwd=common.ROOT, check=True, timeout=60,
                   stdout=subprocess.DEVNULL)
    return time.perf_counter() - t


def migrate(ctx: Context) -> Measured:
    from wvlet_spark import session as session_mod
    from wvlet_spark import sql_import

    corpus = migrate_corpus()
    t = time.perf_counter()
    expected = oracles(ctx.check_dir, list(corpus))
    ctx.prep_s += time.perf_counter() - t
    tracing = Tracing() if ctx.trace else None

    def execute(name: str) -> str:
        wv = sql_import.sql_to_wvlet(corpus[name])
        return session_mod.WvletSession(None).compile_to_sql(wv)

    timed_names = [n for n in corpus if n not in KNOWN_CONVERT_FAILURES
                   | KNOWN_ROUNDTRIP_MISMATCHES]
    starts = [] if ctx.trace else [cold_start_s(corpus[timed_names[0]])
                                   for _ in range(COLD_STARTS)]
    for name in timed_names:
        guarded(execute, name)
    loop = Loop(ctx, timed_names, tracing.timed if tracing else plain_timed)
    steal = bench._StealMonitor()
    loop.run(execute)
    steal_permille = steal.permille()
    rss = common.rss_hwm_mb([os.getpid()])

    # once-per-run round trip: the converted statement, compiled for DuckDB,
    # must answer like the original on the check tables
    cache = common.OracleCache(ctx.check_dir, common.data_digest(ctx.check_dir))
    status: dict[str, str] = {}
    raised = 0
    for name, sql in corpus.items():
        try:
            duck = session_mod.WvletSession(None).compile_to_sql(
                sql_import.sql_to_wvlet(sql), dialect="duckdb")
        except Exception as ex:  # importer and compiler error types vary
            raised += 1
            status[name] = f"raises {type(ex).__name__}: {str(ex)[:120]}"
            continue
        why = same_answer(expected[name], cache.answer(duck))
        if why:
            status[name] = why
    cache.save()
    known = KNOWN_CONVERT_FAILURES | KNOWN_ROUNDTRIP_MISMATCHES
    bad = {n: s for n, s in status.items() if n not in known}
    measured = loop.measured(
        ctx, bad, rss, steal_permille,
        setup_s=median(starts) if starts else None, checked=len(corpus),
        cold_starts_s=[round(x, 3) for x in starts],
        conversions_raising=raised,
        data_digest=common.data_digest(ctx.check_dir),
        known_failures={n: status.get(n, "passes now") for n in sorted(known)})
    if tracing is not None:
        try:
            tracing.tracer.counts["sql_import.failed"] = raised
            measured.layers = layer_metrics(
                ctx, tracing, loop, steal_permille, [],
                lambda: paired_overhead(tracing, loop.order(), execute))
            measured.detail["trace_file"] = os.path.relpath(
                ctx.trace_path, common.ROOT)
        finally:
            tracing.close()
    return measured
