"""Flow DSL tests: DAG execution, triggers, retries, routing, resume,
wait/activate, cron arithmetic.  Mirrors the reference's FlowExecutorTest /
FlowSchedulerTest coverage (wvlet-runner/src/test/) on Spark."""

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def ws(spark):
    from wvlet_spark import WvletSession

    s = WvletSession(spark, table_dir=SF_SMALL, test_mode=False)
    yield s
    # re-point the shared temp views back at the oracle scale factor —
    # other test modules share this SparkSession
    from tests.conftest import SF_DIR

    s.register_parquet_dir(SF_DIR)


def states(df):
    return {r["stage"]: r["state"] for r in df.collect()}


def test_flow_linear_dag(ws, spark):
    df = ws.run("""
flow etl = {
  stage extract = { from nation where n_regionkey = 0 }
  stage load from extract = { from extract select n_nationkey, n_name }
}
run flow etl
""")
    st = states(df)
    assert st == {"extract": "success", "load": "success"}
    run_id = df.collect()[0]["run_id"]
    out = spark.table(f"__wv_flow_{run_id}_load")
    assert out.columns == ["n_nationkey", "n_name"]
    assert out.count() > 0


def test_flow_stage_read_only_through_cte(ws, spark):
    """A stage body that names an upstream stage only inside a CTE still
    depends on it and reads its run-scoped output."""
    df = ws.run("""
flow cte_dep = {
  stage a = { from nation where n_regionkey = 1 }
  stage b = { with t as { from a } from t select n_nationkey }
}
run flow cte_dep
""")
    assert states(df) == {"a": "success", "b": "success"}
    run_id = df.collect()[0]["run_id"]
    got = sorted(r[0] for r in spark.table(f"__wv_flow_{run_id}_b").collect())
    want = sorted(r[0] for r in spark.sql(
        "select n_nationkey from nation where n_regionkey = 1").collect())
    assert got == want and got


def test_flow_cte_named_like_a_stage_is_the_cte(ws, spark):
    """A CTE inside a stage body that shares a stage's name is that CTE:
    the body reads its own rows and does not depend on the stage (which
    fails here, so a dependency would skip `b`)."""
    df = ws.run("""
flow shadow = {
  stage a = { from no_such_table_for_shadow }
  stage b = { with a as { from nation } from a }
}
run flow shadow
""")
    assert states(df) == {"a": "failed", "b": "success"}
    run_id = df.collect()[0]["run_id"]
    got = sorted(tuple(r) for r in spark.table(f"__wv_flow_{run_id}_b").collect())
    assert got == sorted(tuple(r) for r in spark.table("nation").collect())


def test_flow_params_and_parallel(ws):
    df = ws.run("""
flow byregion(rk: int = 0) = {
  stage a = { from nation where n_regionkey = rk }
  stage b = { from region }
  stage join_it from a, b = { from a, b where n_regionkey = r_regionkey select n_name, r_name }
}
run flow byregion(rk=2)
""")
    assert set(states(df).values()) == {"success"}


def test_flow_failure_trigger_and_upstream_skip(ws):
    df = ws.run("""
flow fragile = {
  stage bad = { from no_such_table_xyz }
  stage downstream from bad = { from bad count }
  stage cleanup if bad.failed = { from nation count }
  stage only_ok if bad.done = { from nation count }
}
run flow fragile
""")
    st = states(df)
    assert st["bad"] == "failed"
    assert st["downstream"] == "skipped"
    assert st["cleanup"] == "success"
    assert st["only_ok"] == "skipped"


def test_flow_retries_with_backoff(ws):
    df = ws.run("""
flow retrying = {
  stage flaky with {retries: 2, retry_delay: 10ms, backoff: exponential} = { from missing_tbl_abc }
}
run flow retrying
""")
    row = df.collect()[0]
    assert row["state"] == "failed"
    assert row["attempts"] == 3  # 1 + 2 retries
    assert row["error"]


def test_flow_route_percent_split(ws, spark):
    df = ws.run("""
flow abtest = {
  stage src = { from customer }
  route src { case 50 -> variant_a; else -> variant_b }
  stage variant_a = { from src count }
  stage variant_b = { from src count }
}
run flow abtest
""")
    st = states(df)
    assert st["variant_a"] == "success" and st["variant_b"] == "success"
    run_id = df.collect()[0]["run_id"]
    a = spark.table(f"__wv_flow_{run_id}_variant_a").collect()[0][0]
    b = spark.table(f"__wv_flow_{run_id}_variant_b").collect()[0][0]
    total = spark.table("customer").count()
    assert a + b == total            # partition: every row exactly once
    assert 0 < a < total             # both buckets non-empty at ~50/50


def test_flow_route_percent_deterministic(ws, spark):
    summary1 = ws.run("flow d1 = { stage s = { from customer } route s { case 50 -> x; else -> y } stage x = { from s select c_custkey } stage y = { from s select c_custkey } }\nrun flow d1")
    run1 = summary1.collect()[0]["run_id"]
    keys1 = {r[0] for r in spark.table(f"__wv_flow_{run1}_x").collect()}
    summary2 = ws.run("run flow d1")
    run2 = summary2.collect()[0]["run_id"]
    keys2 = {r[0] for r in spark.table(f"__wv_flow_{run2}_x").collect()}
    assert keys1 == keys2  # same rows land in the same bucket every run


def test_flow_route_conditional(ws, spark):
    df = ws.run("""
flow split = {
  stage src = { from orders }
  route src { case o_orderstatus = 'F' -> done_orders; else -> rest }
  stage done_orders = { from src where o_orderstatus = 'F' count }
  stage rest = { from src count }
}
run flow split
""")
    assert set(states(df).values()) == {"success"}


def test_flow_merge_union(ws, spark):
    df = ws.run("""
flow fanin = {
  stage a = { from nation where n_regionkey = 0 }
  stage b = { from nation where n_regionkey = 1 }
  merge both = a, b
  stage final from both = { from both count }
}
run flow fanin
""")
    st = states(df)
    assert st["both"] == "success" and st["final"] == "success"
    run_id = df.collect()[0]["run_id"]
    n = spark.table(f"__wv_flow_{run_id}_final").collect()[0][0]
    exp = spark.sql("SELECT count(*) FROM nation WHERE n_regionkey IN (0,1)").collect()[0][0]
    assert n == exp


def test_flow_wait_and_activate(ws):
    df = ws.run("""
flow notify = {
  stage compute = { from region }
  stage pause = wait(10ms)
  stage alert from compute depends on pause = activate('memory', template: 'regions ready')
}
run flow notify
""")
    assert set(states(df).values()) == {"success"}
    acts = ws.flow_executor.activations
    assert acts and acts[-1]["sink"] == "memory"
    assert acts[-1]["rows"] == 5
    assert acts[-1]["template"] == "regions ready"


def test_flow_resume_skips_succeeded(ws, spark):
    df = ws.run("""
flow partial = {
  stage ok = { from nation }
  stage bad from ok = { from definitely_missing_qq }
}
run flow partial
""")
    first = df.collect()
    run_id = first[0]["run_id"]
    assert states(df)["bad"] == "failed"
    # create the missing table, then resume the same run
    spark.table("nation").limit(1).createOrReplaceTempView("definitely_missing_qq")
    df2 = ws.run(f"run flow partial resume '{run_id}'")
    st2 = states(df2)
    assert st2 == {"ok": "success", "bad": "success"}
    # the succeeded stage was not re-run: attempts recorded as 0 on resume
    ok_row = [r for r in df2.collect() if r["stage"] == "ok"][0]
    assert ok_row["attempts"] == 0
    spark.catalog.dropTempView("definitely_missing_qq")


def test_flow_undefined_stage_dep_is_error(ws):
    with pytest.raises(Exception):
        ws.run("""
flow broken = {
  stage a from nowhere_stage = { from nation }
}
run flow broken
""")


def test_wait_until_sensor(ws, spark):
    df = ws.run("""
flow sensor = {
  stage ready with {poll_interval: 10ms, timeout: 5s} = wait until { from nation where n_regionkey = 0 }
  stage then_go from ready depends on ready = { from nation count }
}
run flow sensor
""")
    assert set(states(df).values()) == {"success"}


def test_cron_next_fire():
    from wvlet_spark.flows import cron_next_fire

    # daily at 02:00: from 2026-03-01 10:30 -> 2026-03-02 02:00
    assert cron_next_fire("0 2 * * *", (2026, 3, 1, 10, 30, 0)) == (2026, 3, 2, 2, 0)
    # every 15 minutes
    assert cron_next_fire("*/15 * * * *", (2026, 3, 1, 10, 31, 0)) == (2026, 3, 1, 10, 45)
    # mondays at 9 (2026-03-02 is a Monday)
    assert cron_next_fire("0 9 * * 1", (2026, 3, 1, 0, 0, 0)) == (2026, 3, 2, 9, 0)


def test_duration_parse():
    from wvlet_spark.flows import parse_duration_ms

    assert parse_duration_ms("5s") == 5000
    assert parse_duration_ms("100ms") == 100
    assert parse_duration_ms("'7 days'") == 7 * 86_400_000
    assert parse_duration_ms("1.5h") == 5_400_000


def test_flow_fork_block(ws):
    df = ws.run("""
flow forked = {
  stage seed = { from region }
  fork {
    stage left_path from seed = { from seed where r_regionkey <= 2 }
    stage right_path from seed = { from seed where r_regionkey > 2 }
  }
  merge all_parts = left_path, right_path
  stage final from all_parts = { from all_parts count }
}
run flow forked
""")
    st = {r["stage"]: r["state"] for r in df.collect()}
    assert set(st.values()) == {"success"}


def test_flow_scheduler_fires(ws):
    """The scheduler thread triggers a run when a cron minute matches."""
    from wvlet_spark.flows import FlowScheduler
    from wvlet_spark.parser import Parser

    stmts = Parser("""
flow tick = {
  stage s = { from region }
} with {schedule: cron('* * * * *')}
""").parse_statements()
    flow = stmts[0]
    ex = ws.flow_executor
    sched = FlowScheduler(ex)
    sched.add(flow)
    # every-minute cron: the current minute always matches -> fires on the
    # first poll tick
    import time

    before = len(ex.store.runs("tick"))
    sched.start(poll_s=0.2)
    try:
        deadline = time.time() + 30
        while time.time() < deadline and len(ex.store.runs("tick")) == before:
            time.sleep(0.2)
    finally:
        sched.stop()
    assert len(ex.store.runs("tick")) > before


def test_cron_step_anchored_at_range_start():
    from wvlet_spark.flows import _cron_field

    # standard cron: steps anchor at the range's own start, not the field min
    assert _cron_field("10-50/15", 0, 59) == {10, 25, 40}
    assert _cron_field("3/20", 0, 59) == {3, 23, 43}
    assert _cron_field("*/15", 0, 59) == {0, 15, 30, 45}


def test_cron_next_fire_top_of_hour():
    # probing with minute-1 at minute 0 must not underflow (scheduler bug)
    import datetime as dt

    from wvlet_spark.flows import cron_next_fire

    now = dt.datetime(2026, 3, 1, 11, 0)
    prev = now - dt.timedelta(minutes=1)
    nxt = cron_next_fire("* * * * *", (prev.year, prev.month, prev.day,
                                       prev.hour, prev.minute, prev.weekday()))
    assert nxt[:5] == (2026, 3, 1, 11, 0)


def test_flow_stage_views_are_run_scoped(ws, spark):
    """Stage outputs must not clobber same-named user tables (bare stage
    names are never registered as views)."""
    spark.sql("SELECT 1 AS marker").createOrReplaceTempView("staging")
    df = ws.run("""
flow scoped = {
  stage staging = { from nation where n_nationkey < 3 }
  stage out from staging = { from staging count }
}
run flow scoped
""")
    st = {r["stage"]: r["state"] for r in df.collect()}
    assert set(st.values()) == {"success"}
    # the user's view is untouched
    assert spark.table("staging").columns == ["marker"]
    run_id = df.collect()[0]["run_id"]
    assert spark.table(f"__wv_flow_{run_id}_out").collect()[0][0] == 3
    spark.catalog.dropTempView("staging")


def test_flow_jump_stage_body(ws, spark):
    """`stage s from x = -> OtherFlow` hands control to another flow."""
    df = ws.run("""
flow target_f = {
  stage t1 = { from region where r_regionkey <= 1 }
}
flow source_f = {
  stage prep = { from nation where n_nationkey < 5 }
  stage handoff from prep = -> target_f
}
run flow source_f
""")
    st = {r["stage"]: r["state"] for r in df.collect()}
    assert st == {"prep": "success", "handoff": "success"}
    # the target flow actually ran
    ex = ws.flow_executor
    assert ex.store.runs("target_f")


def test_flow_jump_route_case_and_end(ws, spark):
    """Route cases can hand off to another flow or terminate with `end`."""
    df = ws.run("""
flow retention = {
  stage keep = { from region }
}
flow router = {
  stage src = { from nation }
  route src {
    case n_regionkey <= 1 -> retention
    else -> end
  }
}
run flow router
""")
    st = {r["stage"]: r["state"] for r in df.collect()}
    assert st["src"] == "success"
    assert st["__jump_src_0"] == "success"
    assert st["__end_src_1"] == "success"
    assert ws.flow_executor.store.runs("retention")


def test_flow_jump_unknown_flow_fails(ws):
    df = ws.run("""
flow lonely = {
  stage a = { from region }
  stage b from a = -> missing_flow_zzz
}
run flow lonely
""")
    st = {r["stage"]: (r["state"], r["error"]) for r in df.collect()}
    assert st["b"][0] == "failed"
    assert "missing_flow_zzz" in (st["b"][1] or "")
