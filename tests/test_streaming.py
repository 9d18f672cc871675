"""Incremental subscribe() + Structured Streaming coverage (SURVEY §2.10)."""

import pytest

from tests.conftest import SF_SMALL


def _pinned(spark) -> set:
    """Ids of the RDDs pinned now (a set, so a ContextCleaner pass while
    a stream runs can only shrink it)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture()
def ws(spark):
    from wvlet_spark import WvletSession

    s = WvletSession(spark, table_dir=SF_SMALL, test_mode=False)
    yield s
    # re-point the shared temp views back at the oracle scale factor —
    # other test modules share this SparkSession
    from tests.conftest import SF_DIR

    s.register_parquet_dir(SF_DIR)


def test_subscribe_watermark_slices(ws, spark):
    """model.subscribe() reads only (wm, wm+window] per tick and advances
    the watermark — the reference's documented incremental semantics."""
    ws.run("model ev = { from events select event_id, ts, user_id }")
    total = spark.table("events").count()

    first = ws.run("from ev.subscribe(watermark_column='ts', window_size='12h') count")
    n1 = first.collect()[0][0]
    second = ws.run("from ev.subscribe(watermark_column='ts', window_size='12h') count")
    n2 = second.collect()[0][0]
    assert 0 < n1 < total
    assert n2 > 0
    # consecutive ticks see disjoint slices: watermark advanced
    assert ws._watermarks, "watermark not stored"


def test_subscribe_drains_to_empty(ws, spark):
    ws.run("model ev2 = { from events select event_id, ts }")
    seen = 0
    for _ in range(200):
        n = ws.run(
            "from ev2.subscribe(watermark_column='ts', window_size='7d') count"
        ).collect()[0][0]
        seen += n
        if n == 0:
            break
    assert seen == spark.table("events").count()


def test_read_stream_windowed_agg(spark, tmp_path):
    """Structured Streaming: file source -> watermark -> tumbling window agg
    -> memory sink; counts must match the same batch aggregation."""
    from pyspark.sql import functions as F

    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import read_stream

    src_dir = str(tmp_path / "events_stream")
    events = read_parquet_robust(spark, f"{SF_SMALL}/events.parquet")
    events.select("event_id", "ts", "event_type").write.parquet(src_dir)

    stream = read_stream(spark, src_dir, watermark_column="ts", delay="1 hour")
    agg = stream.groupBy(F.window("ts", "1 day"), "event_type").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window"]["start"], r["event_type"]): r["count"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    exp = {
        (r["window"]["start"], r["event_type"]): r["count"]
        for r in spark.read.parquet(src_dir)
        .groupBy(F.window("ts", "1 day"), "event_type").count().collect()
    }
    assert got == exp and len(got) > 0


def test_ngram_verify_after_lsh(spark):
    """Compose: minhash LSH candidates -> exact n-gram Jaccard verify."""
    from wvlet_spark.ops.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("sigma", "sygma")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "totally unrelated words about query engines " * 3)],
        ["doc_id", "text"],
    )
    cands = minhash_near_dup_pairs(df, num_hashes=64, bands=16, shingle_k=3,
                                   threshold=0.2)
    verified = ngram_jaccard_pairs(df, n=3, threshold=0.3, candidates=cands).collect()
    assert any(p.id_a == 1 and p.id_b == 2 for p in verified)
    assert all(3 not in (p.id_a, p.id_b) for p in verified)


def test_sessionize_batch_gap_split(spark):
    """Two bursts 2h apart -> two sessions; single events are singletons."""
    import datetime as dt

    from wvlet_spark.streaming import sessionize_batch

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    rows = [("u1", t0), ("u1", t0 + dt.timedelta(minutes=5)),
            ("u1", t0 + dt.timedelta(hours=2)),
            ("u2", t0)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(r.user_id, r.session_start, r.n_events)
           for r in sessionize_batch(df, gap_seconds=1800).collect()}
    assert got == {("u1", t0, 2),
                   ("u1", t0 + dt.timedelta(hours=2), 1),
                   ("u2", t0, 1)}


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: one availableNow pass emits
    every CLOSED session (all but each user's trailing open session), and
    they must equal the batch sessionization minus those trailing
    sessions."""
    from pyspark.sql import functions as F

    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import (read_stream, sessionize_batch,
                                       sessionize_stream)

    src_dir = str(tmp_path / "sess_stream")
    events = read_parquet_robust(spark, f"{SF_SMALL}/events.parquet")
    events.select("user_id", F.col("ts").cast("timestamp").alias("ts")) \
        .write.parquet(src_dir)

    stream = read_stream(spark, src_dir, watermark_column="ts",
                         delay="10 minutes")
    sessions = sessionize_stream(stream, "user_id", "ts", gap_seconds=6 * 3600)
    q = (sessions.writeStream.outputMode("append")
         .format("memory").queryName("sess_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user, str(r.session_start), str(r.session_end), r.n_events)
           for r in spark.sql("SELECT * FROM sess_out").collect()}

    batch = sessionize_batch(
        spark.read.parquet(src_dir), "user_id", "ts", gap_seconds=6 * 3600)
    rows = batch.collect()
    all_sessions = {(str(r.user_id), str(r.session_start),
                     str(r.session_end), r.n_events) for r in rows}
    # each user's trailing session may or may not have timed out by the
    # final watermark; every NON-trailing session must have been emitted
    last_start = {}
    for r in rows:
        k = str(r.user_id)
        if k not in last_start or r.session_start > last_start[k]:
            last_start[k] = r.session_start
    closed = {(str(r.user_id), str(r.session_start), str(r.session_end),
               r.n_events)
              for r in rows if r.session_start != last_start[str(r.user_id)]}
    assert closed <= got <= all_sessions
    assert len(got) > 0


def test_windowed_agg_stream_incremental_parity(spark, tmp_path):
    """Stateful incremental windowed aggregation (past the reference's
    stateless-only Incrementalize): two availableNow runs over a growing
    source — the second processes ONLY the new files, merging updated
    windows via state + foreachBatch upsert — must equal a full batch
    recompute over all data."""
    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import windowed_agg_batch, windowed_agg_stream

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "agg")
    ckp = str(tmp_path / "ckp")
    ev = (read_parquet_robust(spark, f"{SF_SMALL}/events.parquet")
          .select("ts", "event_type", "value").orderBy("ts")
          .localCheckpoint())
    total = ev.count()
    first, second = ev.limit(total // 2), ev.subtract(ev.limit(total // 2))

    first.write.parquet(src)
    pinned = _pinned(spark)
    q = windowed_agg_stream(spark, src, tgt, ckp, ts_col="ts",
                            window="1 day", group_cols=["event_type"],
                            value_col="value", watermark_delay="365 days")
    q.awaitTermination(120)

    # incremental tick: append the rest, run again from the checkpoint
    second.write.mode("append").parquet(src)
    q2 = windowed_agg_stream(spark, src, tgt, ckp, ts_col="ts",
                             window="1 day", group_cols=["event_type"],
                             value_col="value", watermark_delay="365 days")
    q2.awaitTermination(120)
    assert _pinned(spark) <= pinned  # each batch's scope freed its cut
    # only the delta was read on the second run (checkpoint carried state)
    progress = q2.lastProgress
    if progress:  # availableNow may report multiple batches; sum inputs
        assert progress["numInputRows"] <= total - total // 2

    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in spark.read.parquet(tgt).collect()
    }
    exp = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in windowed_agg_batch(
            read_parquet_robust(spark, f"{SF_SMALL}/events.parquet")
            .select("ts", "event_type", "value"),
            ts_col="ts", window="1 day", group_cols=["event_type"],
            value_col="value").collect()
    }
    assert got == exp


def test_exact_dedup_stream_parity(spark, tmp_path):
    """Streaming exact dedup (watermark-bounded state) keeps one row per
    normalized text, matching the batch operator's representative count."""
    from pyspark.sql import functions as F

    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import exact_dedup_stream, read_stream

    src = str(tmp_path / "docs")
    base = read_parquet_robust(spark, f"{SF_SMALL}/documents.parquet") \
        .select("doc_id", "text").limit(100)
    # plant duplicates: re-id 30 docs with whitespace/casing variants
    dups = (base.limit(30)
            .withColumn("doc_id", F.col("doc_id") + 100000)
            .withColumn("text", F.upper(F.regexp_replace("text", " ", "  "))))
    docs = (base.unionByName(dups)
            .withColumn("ts", F.timestamp_seconds(
                F.lit(1700000000) + F.col("doc_id") % 1000)))
    docs = docs.localCheckpoint()
    docs.write.parquet(src)

    stream = read_stream(spark, src)
    q = (exact_dedup_stream(stream, ts_col="ts", watermark_delay="365 days")
         .writeStream.outputMode("append")
         .format("memory").queryName("dedup_stream_out")
         .option("checkpointLocation", str(tmp_path / "ckp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT count(*) FROM dedup_stream_out").collect()[0][0]
    from wvlet_spark.ops.dedup import exact_dedup

    exp = exact_dedup(docs).count()
    assert got == exp
    assert got < docs.count()  # the corpus contains planted duplicates


def test_enriched_agg_stream_batch_parity(spark, tmp_path):
    """Stream-static enrichment: the streaming pipeline (stream events
    broadcast-joined to the customer dim, stateful windowed agg, upsert
    sink) must equal the batch twin over the same data."""
    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import enriched_agg_batch, enriched_agg_stream

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "agg")
    ckp = str(tmp_path / "ckp")
    ev = (read_parquet_robust(spark, f"{SF_SMALL}/events.parquet")
          .select("user_id", "ts", "value"))
    cust = read_parquet_robust(spark, f"{SF_SMALL}/customer.parquet")
    ev.write.parquet(src)

    pinned = _pinned(spark)
    q = enriched_agg_stream(spark, src, cust, tgt, ckp,
                            watermark_delay="365 days")
    q.awaitTermination(120)
    assert _pinned(spark) <= pinned

    got = {
        (r.window_start, r.c_mktsegment):
            (r.n_events, round(r.total_value, 2))
        for r in spark.read.parquet(tgt).collect()
    }
    exp = {
        (r.window_start, r.c_mktsegment):
            (r.n_events, round(r.total_value, 2))
        for r in enriched_agg_batch(ev, cust).collect()
    }
    assert got == exp and len(got) > 0


def test_near_dup_filter_stream_matches_batch(spark, tmp_path):
    """Dedup-on-ingest parity: the micro-batched stream (band store of all
    seen docs + in-batch smaller-id check) admits EXACTLY the docs the
    order-independent batch rule admits, collision chains included, over
    three micro-batches that leave nothing pinned."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from wvlet_spark.session import read_parquet_robust
    from wvlet_spark.streaming import (near_dup_filter_batch,
                                       near_dup_filter_stream)

    docs = (read_parquet_robust(spark, f"{SF_DIR}/documents.parquet")
            .orderBy("doc_id").limit(200))
    b_ids = sorted(r.doc_id for r in
                   near_dup_filter_batch(docs).select("doc_id").collect())
    src = str(tmp_path / "src")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    third = len(ids) // 3
    for i, chunk in enumerate((ids[:third], ids[third:2 * third],
                               ids[2 * third:])):
        (docs.filter(F.col("doc_id").isin(chunk)).coalesce(1)
         .write.mode("append" if i else "overwrite").parquet(src))
    pinned = _pinned(spark)
    q = near_dup_filter_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "store"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(120)
    assert _pinned(spark) <= pinned
    assert len(q.recentProgress) >= 3
    s_ids = sorted(r.doc_id for r in
                   spark.read.parquet(str(tmp_path / "tgt"))
                   .select("doc_id").collect())
    assert s_ids == b_ids and len(s_ids) > 0
