"""Incremental / subscription processing.

The reference's `model.subscribe()` is micro-batch incremental consumption:
each run reads only rows with
    watermark < ts AND ts <= watermark + window_size
then advances the stored watermark (reference: website/docs/index.md,
relation.scala Subscribe / IncrementalTableScan).

Two modes here:
- batch mode (default): the documented watermark-slice semantics with a
  per-session watermark store (`subscribe_filter`)
- structured streaming mode: `read_stream` builds a Structured Streaming
  DataFrame with `withWatermark` for true streaming pipelines.
"""

from __future__ import annotations

import re

from wvlet_spark import nodes as N
from wvlet_spark.generator import CompileError
from wvlet_spark.session import RunScope, checkpoint

_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)\s*(ms|s|m|h|d|w)$")

_UNIT_SECONDS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_duration_seconds(s: str) -> float:
    m = _DURATION_RE.match(s.strip())
    if not m:
        # also accept "1 hour" style
        m2 = re.match(r"^(\d+(?:\.\d+)?)\s*(second|minute|hour|day|week)s?$", s.strip())
        if m2:
            unit = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
            return float(m2.group(1)) * unit[m2.group(2)]
        raise CompileError(f"cannot parse duration: {s!r}")
    return float(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def subscribe_filter(session, node: N.Subscribe) -> N.Relation:
    """Lower Subscribe to a Filter over the snapshot with watermark bounds,
    advancing the session's stored watermark."""
    wm_col = node.watermark_column
    if wm_col is None:
        # no watermark config: plain read-through
        return node.child

    key = id_key(node)
    spark = session.spark
    from wvlet_spark.generator import SPARK, SqlGenerator

    inner_sql = SqlGenerator(session._make_ctx(SPARK)).generate(
        session._stage_sources(node.child) if spark is not None else node.child
    )

    wm = session._watermarks.get(key)
    if wm is None and spark is not None:
        row = spark.sql(f"SELECT min({wm_col}) AS lo FROM ({inner_sql})").collect()[0]
        lo = row["lo"]
        if lo is None:
            wm = None
        else:
            import datetime

            wm = lo - datetime.timedelta(microseconds=1) if hasattr(lo, "isoformat") else lo

    window_sql = ""
    cond: N.Expr
    col = N.Ident(wm_col)
    # epoch-numbered watermark columns (TD-style `time: int` unix seconds,
    # reference spec/cdp_*) compare numerically; timestamp columns via a
    # timestamp literal
    numeric_wm = isinstance(wm, (int, float)) and not hasattr(wm, "isoformat")
    if wm is None:
        cond = N.Literal(True, "bool")
    else:
        if numeric_wm:
            lower = N.Comparison(">", col, N.RawSQLExpr(repr(wm)))
            if node.window_size:
                secs = parse_duration_seconds(node.window_size)
                upper = N.Comparison(
                    "<=", col, N.RawSQLExpr(repr(wm + int(secs))))
                cond = N.And(lower, upper)
            else:
                cond = lower
        else:
            wm_lit = N.Literal(str(wm), "string")
            lower = N.Comparison(">", col, N.Cast(wm_lit, "timestamp"))
            if node.window_size:
                secs = parse_duration_seconds(node.window_size)
                upper_expr = N.RawSQLExpr(
                    f"CAST('{wm}' AS TIMESTAMP) + INTERVAL {int(secs)} SECOND"
                )
                upper = N.Comparison("<=", col, upper_expr)
                cond = N.And(lower, upper)
            else:
                cond = lower

        # advance the stored watermark to the window upper bound
        if node.window_size and spark is not None:
            import datetime

            if hasattr(wm, "isoformat"):
                session._watermarks[key] = wm + datetime.timedelta(
                    seconds=parse_duration_seconds(node.window_size)
                )
            elif numeric_wm:
                session._watermarks[key] = wm + int(
                    parse_duration_seconds(node.window_size))
        elif spark is not None:
            row = spark.sql(f"SELECT max({wm_col}) AS hi FROM ({inner_sql})").collect()[0]
            if row["hi"] is not None:
                session._watermarks[key] = row["hi"]
    if wm is not None and key not in session._watermarks:
        session._watermarks[key] = wm
    return N.Filter(node.child, cond)


def id_key(node: N.Subscribe) -> str:
    if node.source_name:
        return f"sub:{node.source_name}"
    child = node.child
    if isinstance(child, N.ModelScan):
        return f"model:{child.name}"
    if isinstance(child, N.TableRef):
        return f"table:{child.name}"
    # object identity would differ across parses — never a stable key
    return f"plan:{id(child)}"


def sessionize_batch(df, user_col: str = "user_id", ts_col: str = "ts",
                     gap_seconds: int = 1800):
    """Gap-based sessionization (batch): events more than `gap_seconds`
    apart start a new session.  lag + running sum over a per-user window —
    one shuffle on the user key, no UDF."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(user_col).orderBy(ts_col)
    # microsecond precision: cast-to-long truncates to seconds and would
    # disagree with sub-second event times at exact gap boundaries
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    new_sess = (us - F.lag(us).over(w) > gap_seconds * 1_000_000)
    sid = F.sum(F.when(new_sess, 1).otherwise(0)).over(w)
    return (df.withColumn("__sid", sid)
            .groupBy(user_col, "__sid")
            .agg(F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"),
                 F.count("*").alias("n_events"))
            .drop("__sid"))


def sessionize_stream(stream, user_col: str = "user_id", ts_col: str = "ts",
                      gap_seconds: int = 1800):
    """Stateful streaming sessionization via applyInPandasWithState.

    Per user key, events merge into the open session held in state; a gap
    larger than `gap_seconds` CLOSES the previous session (emitted
    downstream) and opens a new one.  The open session sits in state with
    an event-time timeout at last_event + gap: when the watermark passes
    it, the timed-out callback emits it.  State carries three scalars per
    user — (start, last, count) — so state size is O(active users), never
    O(events).  The stream must already carry a watermark on `ts_col`
    (use `read_stream(..., watermark_column=ts_col)`)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)

    out_schema = StructType([
        StructField("user", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ])
    state_schema = StructType([
        StructField("start", LongType()),   # epoch microseconds
        StructField("last", LongType()),
        StructField("count", LongType()),
    ])
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state):
        user = str(key[0])

        def emit(start, last, count):
            return pd.DataFrame({
                "user": [user],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [count],
            })

        if state.hasTimedOut:
            start, last, count = state.get
            state.remove()
            yield emit(start, last, count)
            return

        ts = pd.concat([pdf[ts_col] for pdf in pdf_iter])
        micros = sorted(int(v) for v in ts.astype("int64") // 1_000)
        if state.exists:
            start, last, count = state.get
        else:
            start, last, count = micros[0], micros[0] - 1, 0
            # count=0 + last before first event: the first event below
            # "continues" this empty session without emitting
        for s in micros:
            if s - last > gap_us and count > 0:
                yield emit(start, last, count)
                start, count = s, 0
            last = s
            count += 1
        state.update((start, last, count))
        state.setTimeoutTimestamp((last + gap_us) // 1000)

    return (stream.groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def windowed_agg_batch(df, ts_col: str = "ts", window: str = "1 hour",
                       group_cols: list[str] | None = None,
                       value_col: str = "value"):
    """Tumbling-window aggregate (batch shape): one shuffle on
    (window, groups); window boundaries via Spark's window() so the
    streaming twin produces byte-identical keys."""
    from pyspark.sql import functions as F

    group_cols = group_cols or []
    w = F.window(F.col(ts_col).cast("timestamp"), window)
    return (df.groupBy(w.alias("win"), *group_cols)
            .agg(F.count("*").alias("n_events"),
                 F.sum(value_col).alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    *group_cols, "n_events", "total_value"))


def windowed_agg_stream(spark, source_path: str, target_path: str,
                        checkpoint_path: str, ts_col: str = "ts",
                        window: str = "1 hour",
                        group_cols: list[str] | None = None,
                        value_col: str = "value",
                        watermark_delay: str = "1 hour",
                        available_now: bool = True,
                        target_table: str | None = None):
    """STATEFUL incremental windowed aggregation — the extension past the
    reference's stateless-only incrementalization
    (transform/Incrementalize.scala:27-107 restricts subscribe() to
    scan/filter/project; this adds the aggregate case via Structured
    Streaming state + a foreachBatch upsert).

    update-mode emission means each micro-batch row carries the COMPLETE
    aggregate-so-far for its (window, groups) key (state store holds the
    running value, persisted under `checkpoint_path` across runs), so the
    sink merge is a pure upsert-by-key.  When `target_table` names a
    Delta/Iceberg catalog table (acid.supports_merge), each batch issues
    a transactional MERGE INTO; otherwise the sink is a parquet directory
    swapped atomically (read-current, anti-join updated keys, union,
    write-tmp, rename) — the state/merge split is identical either way.
    Returns the StreamingQuery."""
    stream = read_stream(spark, source_path, watermark_column=ts_col,
                         delay=watermark_delay)
    agg = windowed_agg_batch(stream, ts_col, window, group_cols, value_col)
    return _upsert_stream(agg, ["window_start", *(group_cols or [])],
                          target_path, checkpoint_path, available_now,
                          target_table)


def _upsert_stream(agg, keys: list[str], target_path: str,
                   checkpoint_path: str, available_now: bool,
                   target_table: str | None = None):
    """Start `agg` in update mode, upserting each micro-batch by `keys`
    into `target_table` (a MERGE INTO, when it supports one) or else into
    the parquet directory `target_path`, swapped atomically."""
    import os
    import shutil

    def merge(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        batch_df = checkpoint(batch_df, eager=True)
        if target_table is not None:
            from wvlet_spark import acid

            if acid.supports_merge(sess, target_table):
                batch_df.createOrReplaceTempView("__wv_merge_src")
                sess.sql(acid.merge_upsert_sql(
                    target_table, "__wv_merge_src", keys))
                return
        if os.path.isdir(target_path):
            cur = sess.read.parquet(target_path)
            merged = (cur.join(batch_df.select(*keys).distinct(),
                               on=keys, how="left_anti")
                      .unionByName(batch_df))
        else:
            merged = batch_df
        tmp = target_path.rstrip("/") + ".__tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        old = target_path.rstrip("/") + ".__old__"
        if os.path.isdir(target_path):
            os.rename(target_path, old)
        os.rename(tmp, target_path)
        shutil.rmtree(old, ignore_errors=True)

    writer = (agg.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint_path)
              .foreachBatch(_scoped(merge)))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _scoped(body):
    """Run each micro-batch of `body` in a RunScope that frees its cuts."""
    def run(batch_df, batch_id):
        with RunScope():
            body(batch_df, batch_id)
    return run


def read_stream(spark, table_or_path: str, watermark_column: str | None = None,
                delay: str = "10 minutes", fmt: str = "parquet", schema=None):
    """Structured Streaming source with optional watermark — the Spark-native
    upgrade path for `subscribe()` pipelines."""
    if "/" in table_or_path or table_or_path.endswith(".parquet"):
        reader = spark.readStream.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            static = spark.read.format(fmt).load(table_or_path)
            reader = reader.schema(static.schema)
        df = reader.load(table_or_path)
    else:
        df = spark.readStream.table(table_or_path)
    if watermark_column:
        # Parquet-inferred event-time columns come back TIMESTAMP_NTZ, which
        # withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Cast to
        # the session-zoned TIMESTAMP type; values are identical under UTC.
        from pyspark.sql import functions as F

        if dict(df.dtypes).get(watermark_column) == "timestamp_ntz":
            df = df.withColumn(watermark_column, F.col(watermark_column).cast("timestamp"))
        df = df.withWatermark(watermark_column, delay)
    return df


def exact_dedup_stream(stream, key_cols: list[str] | None = None,
                       text_col: str = "text", ts_col: str | None = None,
                       watermark_delay: str = "1 hour"):
    """Streaming twin of ops.dedup.exact_dedup: drop rows whose
    (normalized-text md5) key was already seen.

    With an event-time watermark the state store evicts keys older than
    the delay (`dropDuplicatesWithinWatermark`), so state is bounded by
    the key cardinality INSIDE the watermark horizon — the only shape that
    survives an unbounded stream; without a watermark Spark would keep
    every key forever."""
    from pyspark.sql import functions as F

    if key_cols is None:
        norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
        stream = stream.withColumn("__h", F.md5(norm))
        key_cols = ["__h"]
    if ts_col is not None:
        if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
            stream = stream.withColumn(ts_col,
                                       F.col(ts_col).cast("timestamp"))
        stream = stream.withWatermark(ts_col, watermark_delay)
        return stream.dropDuplicatesWithinWatermark(key_cols)
    return stream.dropDuplicates(key_cols)


def enriched_agg_batch(events_df, dim_df, stream_key: str = "user_id",
                       dim_key: str = "c_custkey",
                       enrich_col: str = "c_mktsegment",
                       ts_col: str = "ts", window: str = "1 day",
                       value_col: str = "value"):
    """Batch twin of enriched_agg_stream: broadcast-enrich the fact rows
    with one dimension attribute, then tumbling-window aggregate on
    (window, attribute).  Window keys via Spark's window() so the
    streaming twin produces byte-identical keys."""
    from pyspark.sql import functions as F

    dim = dim_df.select(F.col(dim_key).alias(stream_key), enrich_col)
    joined = events_df.join(F.broadcast(dim), on=stream_key, how="inner")
    return windowed_agg_batch(joined, ts_col=ts_col, window=window,
                              group_cols=[enrich_col], value_col=value_col)


def enriched_agg_stream(spark, source_path: str, dim_df, target_path: str,
                        checkpoint_path: str, stream_key: str = "user_id",
                        dim_key: str = "c_custkey",
                        enrich_col: str = "c_mktsegment",
                        ts_col: str = "ts", window: str = "1 day",
                        value_col: str = "value",
                        watermark_delay: str = "1 hour",
                        available_now: bool = True):
    """STREAM-STATIC enrichment pipeline: Structured Streaming fact
    source joined to a static dimension (Spark plans this as a per-batch
    broadcast join — the dimension is re-resolved each micro-batch, so a
    slowly-changing dim is picked up without restarts), then the same
    stateful windowed aggregate + upsert sink as windowed_agg_stream.

    100 TB story: the enrichment join never shuffles the stream (static
    side broadcasts); state is bounded by (windows x attribute values);
    the sink merge is upsert-by-key exactly as the plain windowed agg."""
    from pyspark.sql import functions as F

    stream = read_stream(spark, source_path, watermark_column=ts_col,
                         delay=watermark_delay)
    dim = dim_df.select(F.col(dim_key).alias(stream_key), enrich_col)
    joined = stream.join(F.broadcast(dim), on=stream_key, how="inner")
    agg = windowed_agg_batch(joined, ts_col, window, [enrich_col], value_col)
    return _upsert_stream(agg, ["window_start", enrich_col], target_path,
                          checkpoint_path, available_now)


def near_dup_filter_batch(df, text_col: str = "text", id_col: str = "doc_id",
                          num_hashes: int = 16, bands: int = 8,
                          shingle_k: int = 5, family: str = "fast"):
    """Batch twin of the dedup-on-ingest stream: keep each document unless
    some SMALLER-id document shares a MinHash band bucket with it.  The
    rule is order-independent (x is dropped iff ∃ y < x colliding), so
    the micro-batched stream below — which checks each batch against the
    band store of ALL previously seen docs plus smaller ids in-batch —
    computes exactly this set when batches arrive in id order, chains or
    not.  Portable hash family -> full DuckDB oracle
    (registry.ext_stream_neardup)."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.dedup import minhash_bands_portable

    banded = minhash_bands_portable(df, text_col, id_col,
                                    num_hashes, bands, shingle_k, family)
    banded = checkpoint(banded, eager=True)  # feeds both self-join sides
    dup = (banded.alias("a")
           .join(banded.alias("b"),
                 on=[F.col("a.band") == F.col("b.band"),
                     F.col("a.bucket") == F.col("b.bucket"),
                     F.col(f"b.{id_col}") < F.col(f"a.{id_col}")])
           .select(F.col(f"a.{id_col}").alias(id_col)).distinct())
    return df.join(dup, on=id_col, how="left_anti")


def near_dup_filter_stream(spark, source_path: str, target_path: str,
                           band_store_path: str, checkpoint_path: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 16, bands: int = 8,
                           shingle_k: int = 5, available_now: bool = True,
                           max_files_per_trigger: int | None = None,
                           family: str = "fast"):
    """Streaming near-duplicate FILTER on ingest: each micro-batch's docs
    are LSH-banded (portable MinHash), dropped if they collide with the
    persisted band store (all previously seen docs) or with a smaller id
    inside the batch, admitted docs append to `target_path`, and ALL batch
    bands append to the store.

    Storing bands of every SEEN doc (admitted or not) is what makes the
    result exactly `near_dup_filter_batch` under id-ordered arrival — the
    drop rule is "collides with any earlier doc", not "with any admitted
    doc", so collision chains (A~B, B~C, A≁C) resolve identically in one
    pass and in micro-batches.

    100 TB shape: per batch, one map pass (signatures), one equi-join
    against the store keyed (band, bucket) — the store carries ~24 B +
    a short string per (doc, band), partitionable by bucket prefix; no
    state-store growth inside Spark itself (the store is an appendable
    table, compactable offline).  Returns the StreamingQuery."""
    import os

    from pyspark.sql import functions as F

    from wvlet_spark.ops.dedup import minhash_bands_portable

    reader = spark.readStream.schema(
        read_parquet_robust_schema(spark, source_path))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def step(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        batch_df = checkpoint(batch_df, eager=True)
        banded = checkpoint(minhash_bands_portable(
            batch_df, text_col, id_col, num_hashes, bands,
            shingle_k, family), eager=True)
        dup_ids = None
        if os.path.isdir(band_store_path):
            # store carries its own id column — keep only the bucket keys
            # (a semi-join: "does this bucket exist among earlier docs")
            store = (sess.read.parquet(band_store_path)
                     .select("band", "bucket"))
            dup_ids = (banded.join(store, on=["band", "bucket"],
                                   how="left_semi")
                       .select(id_col).distinct())
        within = (banded.alias("a")
                  .join(banded.alias("b"),
                        on=[F.col("a.band") == F.col("b.band"),
                            F.col("a.bucket") == F.col("b.bucket"),
                            F.col(f"b.{id_col}") < F.col(f"a.{id_col}")])
                  .select(F.col(f"a.{id_col}").alias(id_col)).distinct())
        dup = within if dup_ids is None else dup_ids.union(within).distinct()
        admitted = batch_df.join(dup, on=id_col, how="left_anti")
        admitted.write.mode("append").parquet(target_path)
        banded.write.mode("append").parquet(band_store_path)

    writer = (stream.writeStream
              .option("checkpointLocation", checkpoint_path)
              .foreachBatch(_scoped(step)))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_parquet_robust_schema(spark, path: str):
    """Schema for a streaming parquet source (readStream needs it up
    front), via the same nanos-tolerant reader used everywhere else."""
    from wvlet_spark.session import read_parquet_robust

    return read_parquet_robust(spark, path).schema
