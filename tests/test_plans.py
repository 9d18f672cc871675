"""Physical-plan shape regression tests — the 100 TB contract.

Correctness tests prove the answers match; these prove the PLANS stay the
shape that survives a 1000-executor cluster: filters reach the parquet
scan (PushedFilters), projection prunes columns (ReadSchema), subquery
predicates lower to semi/anti hash joins, small dimensions broadcast, no
cartesian products sneak in, hot expressions stay inside whole-stage
codegen, and no row-at-a-time Python UDF (BatchEvalPython) appears in any
language-path or extension plan.
"""

import os

import pytest

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _plan(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jqe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


@pytest.fixture(scope="module")
def ws(spark):
    from wvlet_spark import WvletSession

    return WvletSession(spark, table_dir=SF_DIR, test_mode=False)


def _suite_df(ws, name):
    from wvlet_spark.suite import SUITE

    return ws.run(SUITE[name][0])


def test_q3_pushdown_pruning_broadcast(ws):
    plan = _plan(_suite_df(ws, "tpch_q3"))
    # the BUILDING filter reaches the customer scan
    assert "PushedFilters: [" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1][:2000]
    # column pruning: the customer leg must not read all 8 columns
    cust_scans = [s for s in plan.split("ReadSchema: ")[1:] if "c_custkey" in s[:400]]
    assert cust_scans and all("c_phone" not in s[:400] for s in cust_scans)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # hot expressions stay inside whole-stage codegen spans (AQE hides the
    # spans pre-execution, so plan once with AQE off; `*(n)` marks a span)
    conf = ws.spark.conf
    old = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cg = _plan(_suite_df(ws, "tpch_q3"), "simple")
    finally:
        conf.set("spark.sql.adaptive.enabled", old)
    assert "*(1)" in cg


def test_semi_anti_lowering(ws):
    assert "LeftSemi" in _plan(_suite_df(ws, "in_subquery"))
    assert "LeftAnti" in _plan(_suite_df(ws, "anti_join_not_in"))
    q21 = _plan(_suite_df(ws, "tpch_q21_like"))
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "CartesianProduct" not in q21


def test_no_python_udf_in_language_path(ws):
    """Every relational suite plan stays JVM-side: no BatchEvalPython
    (row-at-a-time UDF) anywhere; Arrow UDFs are reserved for extension
    ops that need vectorized numpy kernels."""
    from wvlet_spark.suite import SUITE

    for name in ["tpch_q1", "tpch_q5", "tpch_q18", "window_rank",
                 "agg_sugar", "with_cte", "set_ops", "asof_join_events"]:
        plan = _plan(ws.run(SUITE[name][0]), "simple")
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_ext_ops_plan_shapes(spark, ws):
    # Inspect the op BODIES, not the registry entries: since round 9 the
    # entries' final sort reads a lazily-checkpointed RDD (util.sort_once),
    # which would hide the compute subtree from the entry's plan and make
    # these assertions vacuous.
    from wvlet_spark.ops.dedup import exact_dedup
    from wvlet_spark.ops.text import language_id, token_stats
    from wvlet_spark.session import read_parquet_robust

    docs = read_parquet_robust(spark, f"{SF_DIR}/documents.parquet")
    for fn in (language_id, token_stats):
        plan = _plan(fn(docs), "simple")
        # text ops are single-pass JVM column expressions — no Python at
        # all (the only Exchanges are the final agg/sort of the entry)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
    dedup = _plan(exact_dedup(docs), "simple")
    assert "BatchEvalPython" not in dedup
    assert "CartesianProduct" not in dedup


def test_minhash_shuffle_carries_slim_rows(spark):
    """The LSH band shuffle must move (id, band, bucket) — never document
    text: no `text` column in any Exchange input schema."""
    from wvlet_spark.ops.dedup import minhash_near_dup_pairs
    from wvlet_spark.session import read_parquet_robust

    # pre-widen so the map-parallelism guard (a deliberate round-robin of
    # the input, no-op on well-split cluster data) does not add its own
    # text-bearing exchange: the invariant under test is that the LSH
    # band/candidate shuffles themselves never carry documents
    docs = read_parquet_robust(
        spark, f"{SF_DIR}/documents.parquet").repartition(64)
    plan = _plan(minhash_near_dup_pairs(docs, threshold=0.5), "formatted")
    for seg in plan.split("Exchange")[1:]:
        header = seg[:300]
        assert "text#" not in header, "document text crossed a shuffle"


def test_minhash_candidate_stage_caps_before_collect_and_one_exchange(spark):
    """Round-7 ADVICE fix pin: the hot-bucket cap must drop degenerate
    (band, bucket) groups BEFORE collect_list (a 1M-id bucket would
    otherwise build its whole list — and with the cap off, a quadratic
    pair array — inside one unspillable aggregation buffer), and the
    window count that enforces it must REUSE the aggregation's hash
    partitioning: exactly one exchange in the candidate stage."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.dedup import _bucket_candidate_pairs

    banded = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("band"),
        (F.col("id") % 13).alias("bucket"))
    cand = _bucket_candidate_pairs(banded, "doc_id", max_bucket_size=50)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # one hash exchange feeds window + aggregate (dropDuplicates adds its
    # own over (id_a, id_b) — different keys, necessarily separate)
    stage = plan.split("Window")[-1]
    assert plan.count("Exchange hashpartitioning(band") == 1
    assert plan.count("Window") == 1
    # the cap filter consumes the window's __n BELOW the collect_list
    # aggregate (executedPlan prints top-down: aggregate above window)
    assert plan.index("collect_list") < plan.index("Window")
    assert "collect_list" not in stage  # nothing aggregates below the window
    rows = {(r.id_a, r.id_b) for r in cand.collect()}
    # groups are (band,bucket) residue classes of size ~5 -> pairs exist
    assert rows and all(a < b for a, b in rows)


def test_filter_pushdown_on_file_scan(ws):
    plan = _plan(ws.run(
        "from lineitem where l_shipdate <= '1998-09-02'::date "
        "select l_orderkey, l_quantity"))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    # projection reaches the scan: 16-column table, 3-column read
    rs = plan.split("ReadSchema: ")[1]
    assert "l_comment" not in rs[:400]


def test_bucketed_save_enables_shuffle_free_join(spark):
    """`save to t with bucketed_on/bucket_count` writes Spark-bucketed
    tables; a join of two tables bucketed on the same key and count runs
    WITHOUT a shuffle exchange on either side — the co-located-join
    guarantee bucketing exists to buy at 100 TB."""
    from wvlet_spark import WvletSession

    ws = WvletSession(spark, test_mode=False)
    for t in ("bk_left", "bk_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        ws.run("""
from [[1, 'a'], [2, 'b'], [3, 'c'], [4, 'd']] as t(id, v)
save to bk_left
with bucketed_on: ['id'], bucket_count: 4,
""")
        ws.run("""
from [[1, 'x'], [2, 'y'], [4, 'z']] as t(id, w)
save to bk_right
with bucketed_on: ['id'], bucket_count: 4,
""")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = ws.run("""
from bk_left
join bk_right on bk_left.id = bk_right.id
select bk_left.id, v, w
order by bk_left.id
""")
            plan = _plan(df)
            # the ORDER BY adds one range exchange; the JOIN itself must
            # read both bucketed scans without hash exchanges
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert plan.count("Exchange hashpartitioning") == 0, plan
            assert [tuple(r) for r in df.collect()] == \
                [(1, "a", "x"), (2, "b", "y"), (4, "d", "z")]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for t in ("bk_left", "bk_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _assert_bnlj_builds_are_scalar(plan: str, name: str):
    """BroadcastNestedLoopJoin is allowed ONLY for the 1-row scalar-attach
    idiom (`crossJoin(F.broadcast(total))` where `total` is a keyless
    aggregate): the build side broadcasts via IdentityBroadcastMode and its
    child is a HashAggregate with keys=[], so the "loop" runs exactly one
    build row per probe row — same cost as BHJ.  A lit(1)-key equi-join was
    measured as an alternative and REJECTED: Catalyst constant-folds the
    `1 = 1` condition to `true` and plans the very same BNLJ, so the strict
    no-BNLJ assertion is unsatisfiable for scalar attaches.  Any BNLJ whose
    build side is NOT a keyless aggregate (a real multi-row nested loop)
    still fails here."""
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj == 0:
        return
    segs = plan.split("BroadcastExchange IdentityBroadcastMode")[1:]
    assert len(segs) == n_bnlj, (
        f"{name}: {n_bnlj} BNLJ but {len(segs)} identity broadcasts")
    for seg in segs:
        # first aggregate below the broadcast must be keyless (1 row)
        i = seg.find("HashAggregate(keys=[]")
        j = seg.find("HashAggregate(")
        assert i != -1 and i == j, (
            f"{name}: BNLJ build side is not a 1-row scalar aggregate")


def test_new_pipeline_ops_plan_shapes(spark):
    """Round-4 ops keep the relational invariants: no cartesian
    products, no Python in the plan (pure JVM expressions), joins are
    equi joins — except the documented 1-row scalar broadcast attach
    (see _assert_bnlj_builds_are_scalar)."""
    from tests.conftest import SF_DIR

    import wvlet_spark.ops.registry as reg
    import wvlet_spark.ops.util as U

    qs = reg.entry_queries()
    # build with the sort_once checkpoint off so the entries' full compute
    # subtree is visible to the assertions (the checkpoint would present
    # it as an opaque ExistingRDD scan)
    U.SORT_ONCE_CHECKPOINT = False
    try:
        for name in ("ext_decontaminate", "ext_tfidf_terms", "ext_dup_spans",
                     "ext_bigram_lm", "ext_canonical_docs"):
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, name
            assert "Python" not in plan, name
            _assert_bnlj_builds_are_scalar(plan, name)
    finally:
        U.SORT_ONCE_CHECKPOINT = True


def test_multi_ref_aggregate_cte_staged_once(spark):
    """A CTE containing an aggregate and referenced >= 2 times is
    materialized once (lazy localCheckpoint temp view) instead of being
    inlined per reference — Spark inlines CTEs and AQE stage reuse did
    NOT fire on the q44 shape (measured: 2 shuffle stages, 3 scans).
    Single-reference CTEs stay inline so outer filters keep pushing into
    the scan."""
    from wvlet_spark import WvletSession

    ws = WvletSession(spark, table_dir=SF_DIR, test_mode=False)
    df = ws.run("""
with perf as {
  from lineitem
  group by l_partkey
  agg s = l_quantity.sum
}
with a as { from perf where s > 100 }
with b as { from perf where s <= 100 }
from a
concat { from b }
agg n = _.count
""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # staged: the aggregate runs over the checkpointed RDD, so lineitem
    # is scanned ZERO times in this plan
    assert "FileScan parquet" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert df.collect()[0][0] > 0

    # single reference -> inline (pushdown preserved, no checkpoint)
    df1 = ws.run("""
with perf as {
  from lineitem
  group by l_partkey
  agg s = l_quantity.sum
}
from perf
where s > 100
agg n = _.count
""")
    plan1 = df1._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan1
    assert "Scan ExistingRDD" not in plan1
    """salted_join: same rows as the plain join on a skewed key, salt
    column dropped, both inner and left."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.util import salted_join

    big = spark.range(10000).select(
        F.when(F.col("id") < 9000, F.lit(1)).otherwise(F.col("id"))
        .alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame(
        [(1, "hot"), (9500, "cold")], ["k", "name"])

    plain = big.join(small, on=["k"], how="inner")
    salted = salted_join(big, small, on=["k"], how="inner", buckets=4)
    assert salted.columns == plain.columns
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))

    plain_l = big.join(small, on=["k"], how="left")
    salted_l = salted_join(big, small, on=["k"], how="left", buckets=4)
    assert salted_l.count() == plain_l.count() == 10000

    # the join really is on (key, salt): the analyzed plan carries the
    # salt column in the join condition before the drop
    assert "__wv_salt" in salted_l._jdf.queryExecution().analyzed().toString()

    # hot_keys two-path form (the one that WINS the SCALE.md §22 matrix):
    # same rows, and the hot slice joins via an explicit broadcast
    two = salted_join(big, small, on=["k"], how="inner", hot_keys=[1])
    assert sorted(map(tuple, two.collect())) == \
        sorted(map(tuple, plain.collect()))
    two_l = salted_join(big, small, on=["k"], how="left", hot_keys=[1])
    assert two_l.count() == 10000
    assert "Broadcast" in two._jdf.queryExecution().executedPlan().toString()
    # NULL keys survive a left join through the cold path
    bign = big.withColumn(
        "k", F.when(F.col("v") == 17, F.lit(None)).otherwise(F.col("k")))
    two_n = salted_join(bign, small, on=["k"], how="left", hot_keys=[1])
    assert two_n.count() == 10000
    assert two_n.filter(F.col("k").isNull()).count() == 1
