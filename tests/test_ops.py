"""Extension operators: oracle checks where expressible, semantic checks
otherwise (deterministic counts, known-duplicate detection)."""

import pytest

from tests.conftest import SF_DIR
from wvlet_spark.oracle import compare
from wvlet_spark.ops import entry_oracles, entry_queries

QUERIES = entry_queries()
ORACLES = entry_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_ext_entry(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    if name in ORACLES:
        good, msg = compare(df, duck, ORACLES[name])
        assert good, f"{name}: {msg}"
    else:
        assert df.count() >= 0


def test_minhash_finds_planted_duplicate(spark):
    from wvlet_spark.ops.dedup import minhash_near_dup_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the hunter sleeps at home"
    )
    near = base.replace("green", "dark")  # one-word change
    other = "completely different content about spark query engines and shuffles " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = minhash_near_dup_pairs(df, num_hashes=64, bands=16, shingle_k=3,
                                   threshold=0.3).collect()
    assert any(p.id_a == 1 and p.id_b == 2 for p in pairs)
    assert not any(p.id_b == 3 or p.id_a == 3 for p in pairs)


def test_simhash_hamming_zero_for_identical(spark):
    from wvlet_spark.ops.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame(
        [(1, "hello world foo bar"), (2, "hello world foo bar"), (3, "zzz qqq ppp")],
        ["doc_id", "text"],
    )
    pairs = {(p.id_a, p.id_b): p.hamming for p in simhash_near_dup_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0


def test_brute_force_topk_exact(spark):
    from wvlet_spark.ops.similarity import brute_force_topk

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = brute_force_topk(df, [1.0, 0.0, 0.0, 0.0], k=1).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-9


def test_lsh_recall_against_brute_force(spark):
    """LSH recall on clustered data (the testdata embeddings are
    near-orthogonal — no similar pairs exist — so recall is measured on a
    synthetic clustered corpus where true neighbors exist)."""
    import numpy as np

    from wvlet_spark.ops.similarity import brute_force_topk, lsh_bucket_topk

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((5, 32)) * 3
    rows = []
    for i in range(200):
        c = centers[i % 5]
        rows.append((i, (c + rng.standard_normal(32) * 0.3).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = centers[0].tolist()
    exact = {r.vec_id for r in brute_force_topk(df, q, k=10).collect()}
    approx = {r.vec_id for r in lsh_bucket_topk(df, q, k=10, planes=6, multiprobe=3).collect()}
    assert len(exact & approx) >= 6


def test_multimodal_features_shape(spark):
    from wvlet_spark.ops.multimodal import decode_image_features, with_binary_payload
    from wvlet_spark.session import read_parquet_robust

    docs = read_parquet_robust(spark, f"{SF_DIR}/documents.parquet").limit(20)
    out = decode_image_features(with_binary_payload(docs)).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-6  # normalized histogram


# Exact all-pairs oracle: the recall reference for the LSH graded path.
# (The graded contract entry ext_embedding_dedup is the LSH bucket-join;
# the exact baseline lives on only as this pytest oracle.)
O_EMBEDDING_EXACT = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) >= 0.3
ORDER BY id_a, id_b
"""


def test_embedding_near_dup_exact_vs_oracle(spark):
    import duckdb

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.similarity import embedding_near_dup_pairs
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(spark, f"{SF_DIR}/embeddings.parquet")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    exp = {(a, b): c for a, b, c in con.execute(O_EMBEDDING_EXACT).fetchall()}
    assert set(got) == set(exp)
    assert all(abs(got[k] - exp[k]) < 1e-3 for k in got)
    assert len(got) > 0


def test_embedding_dedup_lsh_subset_of_exact(spark):
    """Graded-contract containment: LSH bucket-join pairs ⊆ exact all-pairs
    at the same threshold (LSH may miss cross-bucket pairs, never invent)."""
    from tests.conftest import SF_DIR
    from wvlet_spark.ops.registry import q_embedding_dedup
    from wvlet_spark.ops.similarity import embedding_near_dup_pairs
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(spark, f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in q_embedding_dedup(spark, SF_DIR).collect()}
    assert lsh <= exact


def test_embedding_near_dup_lsh_recall(spark):
    """The LSH-bucketed variant must recover a planted near-duplicate pair."""
    import numpy as np

    from wvlet_spark.ops.similarity import embedding_near_dup_pairs

    rng = np.random.RandomState(7)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.05
    rows = [(1, [float(x) for x in base]), (2, [float(x) for x in near])]
    rows += [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(3, 60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dup_pairs(df, threshold=0.9, use_lsh=True, planes=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_minhash_hot_bucket_cap(spark):
    """A degenerate corpus (identical docs) floods one bucket; the cap drops
    it. Distinct near-dups in small buckets still surface."""
    from wvlet_spark.ops.dedup import minhash_near_dup_pairs

    boiler = "lorem ipsum dolor sit amet " * 5
    rows = [(i, boiler) for i in range(1, 40)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows += [(100, base), (101, base.replace("mu", "nu"))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = minhash_near_dup_pairs(df, shingle_k=3, threshold=0.3)
    capped = minhash_near_dup_pairs(df, shingle_k=3, threshold=0.3,
                                    max_bucket_size=10)
    got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
    # the boilerplate clique (39*38/2 pairs) is gone, the real pair remains
    assert (100, 101) in got_capped
    assert not any(a < 40 and b < 40 for a, b in got_capped)
    assert len({(r.id_a, r.id_b) for r in uncapped.collect()}) > len(got_capped)


def test_dim_probe_runs_once_per_plan(spark, monkeypatch):
    """probe_vector_dim pays its one-row job at most once per
    (application, plan, column) — repeated ANN calls must hit the cache."""
    from wvlet_spark.ops import util

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], ["id", "v"])
    cls = type(df)  # the concrete (classic) DataFrame class in pyspark 4
    util._DIM_CACHE.clear()
    calls = {"n": 0}
    orig = cls.first

    def counting(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "first", counting)
    assert util.probe_vector_dim(df, "v") == 3
    assert util.probe_vector_dim(df, "v") == 3
    assert calls["n"] == 1


def test_random_projection_empty_input_is_a_value_error(spark):
    """An empty embeddings frame has no vector to take the dimension from:
    a typed error naming the column, not a TypeError on a missing row."""
    from wvlet_spark.ops import similarity
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(spark, f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="'embedding'"):
        similarity.random_projection(emb.limit(0))


def test_minhash_hot_bucket_cap_on_by_default():
    """The scale guard must not be opt-in: at 100 TB an uncapped degenerate
    bucket makes the candidate join quadratic, so the default must cap."""
    import inspect

    from wvlet_spark.ops.dedup import minhash_near_dup_pairs

    default = inspect.signature(minhash_near_dup_pairs).parameters[
        "max_bucket_size"].default
    assert default is not None and 0 < default <= 100_000


def test_video_frame_sampling_plumbing(spark):
    from tests.conftest import SF_DIR
    from wvlet_spark.ops.multimodal import sample_video_frames, with_binary_payload
    from wvlet_spark.session import read_parquet_robust

    docs = read_parquet_robust(spark, f"{SF_DIR}/documents.parquet").limit(10)
    frames = sample_video_frames(with_binary_payload(docs), n_frames=4).collect()
    assert len(frames) == 40  # xN fan-out
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows_ in by_doc.values():
        assert sorted(r.frame_idx for r in rows_) == [0, 1, 2, 3]
        assert all(isinstance(r.frame_payload, (bytes, bytearray)) for r in rows_)


def test_connected_components_shapes(spark):
    """Chain, clique, and isolated nodes all land in the right component.
    A long chain takes one round per node: each superseded label table
    and the edge table are freed, so only the returned labels stay
    pinned, and nothing once the caller's scope closes."""
    from wvlet_spark.ops.graph import connected_components
    from wvlet_spark.session import RunScope

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain: diameter > 1
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # pair
        ["id_a", "id_b"])
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def pinned() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    chain = spark.createDataFrame([(i, i + 1) for i in range(100, 111)],
                                  ["id_a", "id_b"])
    before = pinned()
    got = {r.id: r.comp for r in connected_components(chain).collect()}
    assert got == {i: 100 for i in range(100, 112)}
    assert len(pinned() - before) <= 1
    before = pinned()
    with RunScope():
        assert connected_components(chain).count() == 12
    assert pinned() <= before


def test_dup_clusters_vs_oracle(spark):
    import duckdb

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.registry import O_DUP_CLUSTERS, q_dup_clusters

    got = sorted((r.doc_id, r.cluster_id, r.is_canonical)
                 for r in q_dup_clusters(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    exp = sorted((a, b, bool(c))
                 for a, b, c in con.execute(O_DUP_CLUSTERS).fetchall())
    con.close()
    assert got == exp
    # sanity: at least one multi-document cluster exists in the testdata
    from collections import Counter
    sizes = Counter(c for _, c, _ in got)
    assert max(sizes.values()) >= 2


def test_ivf_topk_recall(spark):
    """IVF recall on clustered data: the probed lists must recover most of
    the exact top-k (same harness as the LSH recall test)."""
    import numpy as np

    from wvlet_spark.ops.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((5, 32)) * 3
    rows = []
    for i in range(200):
        c = centers[i % 5]
        rows.append((i, (c + rng.standard_normal(32) * 0.3).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = centers[0].tolist()
    exact = {r.vec_id for r in brute_force_topk(df, q, k=10).collect()}
    approx = {r.vec_id for r in
              ivf_topk(df, q, k=10, n_clusters=5, nprobe=2).collect()}
    assert len(exact & approx) >= 8


def test_pii_scan_planted(spark):
    """Counts and redaction on crafted text with every PII kind."""
    from wvlet_spark.ops.text import pii_scan

    txt = ("reach me at bob.smith+x@corp.example.org or 555-123-4567; "
           "server 192.168.1.10 logs at https://logs.example.com/x?id=1 end")
    df = spark.createDataFrame([(1, txt), (2, "clean text only")],
                               ["doc_id", "text"])
    rows = {r.doc_id: r for r in pii_scan(df).collect()}
    r1 = rows[1]
    assert (r1.n_email, r1.n_phone, r1.n_ipv4, r1.n_url) == (1, 1, 1, 1)
    assert "<EMAIL>" in r1.redacted and "<PHONE>" in r1.redacted
    assert "<IPV4>" in r1.redacted and "<URL>" in r1.redacted
    assert "bob.smith" not in r1.redacted and "192.168" not in r1.redacted
    r2 = rows[2]
    assert (r2.n_email, r2.n_phone, r2.n_ipv4, r2.n_url) == (0, 0, 0, 0)
    assert r2.redacted == "clean text only"


def test_deterministic_sample_stable_across_partitionings(spark):
    """The same rows are selected regardless of partition layout, and the
    rate is near the target fraction."""
    from wvlet_spark.ops.sampling import deterministic_sample

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in deterministic_sample(df, 0.3).collect()}
    b = {r.doc_id for r in
         deterministic_sample(df.repartition(17), 0.3).collect()}
    assert a == b
    assert abs(len(a) / 4000 - 0.3) < 0.03
    # independent draw under a different salt
    c = {r.doc_id for r in deterministic_sample(df, 0.3, salt="other").collect()}
    assert a != c


def test_stratified_sample_rates(spark):
    from pyspark.sql import functions as F

    from wvlet_spark.ops.sampling import stratified_deterministic_sample

    df = (spark.range(0, 6000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en")
                      .otherwise("de")))
    out = stratified_deterministic_sample(
        df, {"en": 0.1, "de": 0.8}, strata_col="lang")
    rates = {r.lang: r.n for r in
             out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(rates["en"] / 3000 - 0.1) < 0.03
    assert abs(rates["de"] / 3000 - 0.8) < 0.03


def test_sample_boundary_fractions(spark):
    """fraction=1.0 keeps EVERY row (the 9-hex-char threshold bug kept only
    ~6%), fraction=0.0 keeps none — including through the stratified CASE."""
    from wvlet_spark.ops.sampling import (deterministic_sample,
                                          stratified_deterministic_sample)

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    assert deterministic_sample(df, 1.0).count() == 500
    assert deterministic_sample(df, 0.0).count() == 0
    from pyspark.sql import functions as F
    df2 = df.withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en")
                        .otherwise("de"))
    out = stratified_deterministic_sample(
        df2, {"en": 1.0}, strata_col="lang", default_fraction=0.0)
    got = {r.lang for r in out.select("lang").distinct().collect()}
    assert got == {"en"}
    assert out.count() == 250


def test_repetition_stats_flags_degenerate_docs(spark):
    from wvlet_spark.ops.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "buy now " * 30), (2, "a varied document with many different words here")],
        ["doc_id", "text"])
    r = {x.doc_id: x for x in repetition_stats(df).collect()}
    assert r[1].dup_word_frac > 0.9 and r[1].dup_2gram_frac > 0.9
    assert r[1].top_word_frac >= 0.5
    assert r[2].dup_word_frac == 0.0 and r[2].dup_2gram_frac == 0.0


def test_pack_sequences_invariants(spark):
    """Offsets stay within capacity; per (shard, bin) the packed docs are
    contiguous: each doc starts where the previous one ended (mod capacity)."""
    from wvlet_spark.ops.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * (5 + (i * 7) % 40)) for i in range(200)],
        ["doc_id", "text"])
    out = pack_sequences(df, capacity=64, n_shards=4).collect()
    assert all(0 <= r.bin_offset < 64 for r in out)
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        prev = by_shard.get(r.shard, 0)
        assert r.bin_id * 64 + r.bin_offset == prev  # contiguous stream
        by_shard[r.shard] = prev + r.n_tokens
    # sharding is doc_id % n
    assert all(r.shard == r.doc_id % 4 for r in out)


def test_dedup_against_reference_exact(spark):
    from wvlet_spark.ops.dedup import dedup_against_reference

    ref = spark.createDataFrame(
        [(1, "The quick brown fox"), (2, "other doc")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "the  quick brown FOX"),   # normalized dup of ref 1
         (11, "genuinely new content")], ["doc_id", "text"])
    kept = [r.doc_id for r in dedup_against_reference(new, ref).collect()]
    assert kept == [11]
    # normalize=False keeps the casing-different doc
    kept2 = [r.doc_id for r in
             dedup_against_reference(new, ref, normalize=False).collect()]
    assert sorted(kept2) == [10, 11]


def test_decontaminate_planted(spark):
    from wvlet_spark.ops.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the capital of france is paris and it is large")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "we know the capital of france is paris today"),  # overlaps
         (2, "completely unrelated words about gardening tools here"),
         (3, "tiny")],                                          # < n words
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           decontaminate(train, bench, n=3, threshold=0.2).collect()}
    assert out[1].n_contaminated >= 4 and out[1].is_contaminated
    assert out[2].n_contaminated == 0 and not out[2].is_contaminated
    assert out[3].n_grams == 1 and out[3].contamination == 0.0


def test_canonical_representatives(spark):
    from pyspark.sql import functions as F

    from wvlet_spark.ops.graph import canonical_representatives

    docs = spark.createDataFrame(
        [(1, "short"), (2, "the much longer duplicate text"),
         (3, "singleton")], ["doc_id", "text"])
    clustered = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], ["doc_id", "cluster_id"])
    reps = {r.cluster_id: r for r in canonical_representatives(
        clustered, docs, F.length("text").cast("long")).collect()}
    assert reps[1].canonical_id == 2      # longest text wins
    assert reps[3].canonical_id == 3


def test_ivf_index_partition_pruned(spark, tmp_path):
    """build_ivf_index writes cluster-partitioned parquet;
    ivf_search_index scans only the probed lists (partition pruning
    visible in the physical plan) and reaches brute-force recall."""
    from wvlet_spark.ops.similarity import (brute_force_topk,
                                            build_ivf_index,
                                            ivf_search_index)
    from wvlet_spark.session import read_parquet_robust

    embs = read_parquet_robust(
        spark, f"{SF_DIR}/embeddings.parquet").limit(400)
    q = embs.orderBy("vec_id").first().embedding
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(embs, path, n_clusters=8)
    got = ivf_search_index(spark, path, q, k=10, nprobe=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ivf_cluster" in plan and "PartitionFilters" in plan
    ids = {r.vec_id for r in got.collect()}
    exact = {r.vec_id for r in
             brute_force_topk(embs, q, k=10).collect()}
    assert len(ids & exact) >= 6  # nprobe=4 of 8 lists


def test_vocabulary_df(spark):
    from wvlet_spark.ops.text import vocabulary_df

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog"), (3, "the the cat")],
        ["doc_id", "text"])
    out = {r.word: r for r in vocabulary_df(docs).collect()}
    assert out["the"].total_count == 4 and out["the"].doc_freq == 3
    assert out["cat"].doc_freq == 2
    import math
    assert abs(out["dog"].idf - math.log(3 / 1)) < 1e-9


def test_remove_boilerplate_lines(spark):
    from wvlet_spark.ops.graph import F  # noqa: F401 - spark session warm

    from wvlet_spark.ops.text import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "COOKIE BANNER\nreal content one\n\nfooter text"),
         (2, "cookie banner\nreal content two\n\nfooter text"),
         (3, "unique document")],
        ["doc_id", "text"])
    out = {r.doc_id: r.text for r in
           remove_boilerplate_lines(docs, min_docs=2).collect()}
    # normalized-duplicate lines dropped everywhere, blanks kept
    assert out[1] == "real content one\n\nfooter text".replace(
        "\nfooter text", "") or "footer text" not in out[1]
    assert "real content one" in out[1] and "COOKIE" not in out[1]
    assert "real content two" in out[2] and "cookie" not in out[2]
    assert out[3] == "unique document"
    assert "" in out[1].split("\n")  # blank line survives


def test_tfidf_top_terms(spark):
    import math

    from wvlet_spark.ops.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry")],
        ["doc_id", "text"])
    rows = {(r.doc_id, r.word): r for r in
            tfidf_top_terms(docs, k=2).collect()}
    # apple: tf=2 in doc1, df=1 -> weight 2*ln(3)
    assert abs(rows[(1, "apple")].weight - round(2 * math.log(3), 6)) < 1e-9
    assert rows[(1, "apple")].rn == 1  # highest weight in doc 1


def test_duplicate_substring_spans(spark):
    from wvlet_spark.ops.dedup import duplicate_substring_spans

    shared = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, f"intro words here then {shared} and a unique tail one"),
         (2, f"different opening {shared} closing remarks here"),
         (3, "totally unrelated content with no repeats at all")],
        ["doc_id", "text"])
    spans = {(r.doc_id): (r.span_start, r.span_end, r.span_words)
             for r in duplicate_substring_spans(docs, k=5).collect()}
    # doc1: shared block starts at word 4, 7 words long
    assert spans[1] == (4, 10, 7)
    assert spans[2] == (2, 8, 7)
    assert 3 not in spans


def test_semantic_dedup(spark):
    from wvlet_spark.ops.similarity import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]     # cosine ~0.9999 to base
    far = [0.0, 1.0, 0.0, 0.0]
    other = [0.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, other)],
        ["vec_id", "embedding"])
    out = {r.vec_id: r for r in
           semantic_dedup(df, n_clusters=2, threshold=0.99).collect()}
    assert not out[2].keep and out[2].dup_of == 1   # near-dup of 1
    assert out[1].keep and out[3].keep and out[4].keep


def test_training_pipeline_end_to_end(spark):
    """The full hygiene chain composes: boilerplate-line removal ->
    exact dedup -> benchmark decontamination -> quality/token filter ->
    deterministic sample.  Planted artifacts verify every stage acted."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.dedup import decontaminate, exact_dedup
    from wvlet_spark.ops.sampling import deterministic_sample
    from wvlet_spark.ops.text import (remove_boilerplate_lines, token_stats)

    banner = "SUBSCRIBE TO OUR NEWSLETTER"
    docs = spark.createDataFrame(
        [(i, f"{banner}\nunique content number {i} with several words")
         for i in range(1, 9)]
        + [(9, f"{banner}\nunique content number 1 with several words"),
           (10, "eval question: what is the capital of france today")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "what is the capital of france")], ["doc_id", "text"])

    cleaned = remove_boilerplate_lines(docs, min_docs=3)
    assert all(banner not in r.text for r in cleaned.collect())
    deduped = exact_dedup(cleaned)          # doc 9 == doc 1 post-cleaning
    assert deduped.count() == 9
    scored = decontaminate(deduped, bench, n=3, threshold=0.3)
    kept = scored.filter(~F.col("is_contaminated"))
    assert kept.count() == 8                # doc 10 flagged
    featured = token_stats(kept)
    assert featured.filter(F.col("n_tokens") <= 0).count() == 0
    sampled = deterministic_sample(featured, 1.0)
    assert sampled.count() == 8             # fraction=1.0 keeps all


def test_hll_rollup_merge_equals_direct(spark):
    """Mergeability is the rollup contract: merging per-slice HLL
    partials must estimate the same as sketching the whole input, and
    the estimate must sit within 5% of exact."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.sketches import hll_merge, hll_partials
    from wvlet_spark.session import read_parquet_robust

    ev = read_parquet_robust(spark, f"{SF_DIR}/events.parquet")
    merged = hll_merge(hll_partials(ev, "event_type", "user_id")) \
        .collect()[0][0]
    direct = ev.agg(F.hll_sketch_estimate(
        F.hll_sketch_agg("user_id"))).collect()[0][0]
    exact = ev.select(F.count_distinct("user_id")).collect()[0][0]
    assert merged == direct
    assert abs(merged - exact) <= max(1, exact * 0.05)


def test_frequent_terms_matches_exact_topk(spark):
    """approx_top_k heavy hitters vs the exact top-k: on a corpus with
    clear frequency separation the sets agree."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.sketches import frequent_terms
    from wvlet_spark.session import read_parquet_robust

    docs = read_parquet_robust(spark, f"{SF_DIR}/documents.parquet")
    approx = {r["term"] for r in frequent_terms(docs, k=5).collect()}
    words = docs.select(F.explode(
        F.split(F.lower(F.trim("text")), r"\s+")).alias("w")) \
        .filter(F.col("w") != "")
    exact = {r["w"] for r in
             words.groupBy("w").count()
             .orderBy(F.col("count").desc(), "w").limit(5).collect()}
    assert len(approx & exact) >= 4


def test_md5_60bit_cross_engine_parity(spark, duck):
    """The portable hash family's load-bearing fact: Spark's
    conv(substr(md5(x),1,15),16,10)::long equals DuckDB's
    ('0x'||substr(md5(x),1,15))::UBIGINT::BIGINT for arbitrary strings."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.dedup import _md5_60bit

    samples = ["", "a", "the quick brown fox", "unicode éè世界",
               "x" * 500, "tab\tand\nnewline"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {r.s: r.h for r in df.select("s", _md5_60bit(F.col("s")).alias("h")).collect()}
    for s in samples:
        want = duck.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::UBIGINT::BIGINT", [s]
        ).fetchone()[0]
        assert got[s] == want, s


def test_simhash_portable_banding_recall_exact(spark):
    """Pigeonhole check on real data: the banded portable-simhash pairs
    equal brute-force all-pairs hamming <= max_hamming (bands > max_hamming
    makes LSH recall exact, not approximate)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.dedup import (simhash_near_dup_pairs_portable,
                                       simhash_portable)
    from wvlet_spark.session import read_parquet_robust

    docs = read_parquet_robust(spark, f"{SF_DIR}/documents.parquet").limit(200)
    banded = {(r.id_a, r.id_b, r.hamming) for r in
              simhash_near_dup_pairs_portable(docs, max_hamming=3).collect()}
    sigs = simhash_portable(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = {(r.id_a, r.id_b, r.hamming) for r in
             a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
              .select(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"),
                      F.bit_count(F.col("a.simhash")
                                  .bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
              .filter(F.col("hamming") <= 3).collect()}
    assert banded == brute


def test_random_projection_preserves_norms_on_average(spark):
    """JL sanity: E[|Rx|^2] = |x|^2 for the 1/sqrt(out_dim)-scaled Gaussian
    matrix — the corpus-averaged ratio must be near 1 (per-row variance is
    ~sqrt(2/out_dim); averaging over 500 rows shrinks it ~22x)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.similarity import random_projection
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(spark, f"{SF_DIR}/embeddings.parquet")
    out = random_projection(emb, out_dim=8, seed=7)
    sq = lambda c: F.aggregate(c, F.lit(0.0),
                               lambda a, x: a + x.cast("double") * x)
    row = (out.select(F.avg(sq(F.col("proj")) / sq(F.col("embedding")))
                      .alias("ratio")).collect()[0])
    assert 0.85 < row.ratio < 1.15, row.ratio


def test_pca_project_variance_ordering(spark):
    """PCA sanity: per-dimension variance of the projection is
    non-increasing (components are sorted by singular value), and dim-0
    variance >= the average input-coordinate variance (it maximizes)."""
    import numpy as np

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.similarity import pca_project
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(spark, f"{SF_DIR}/embeddings.parquet")
    rows = pca_project(emb, out_dim=4).select("pca").collect()
    P = np.array([r.pca for r in rows])
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(3)), var
    X = np.array([r.embedding for r in emb.select("embedding").collect()],
                 dtype=float)
    assert var[0] >= X.var(axis=0).mean() - 1e-9


def test_bigram_lm_split_scoring(spark):
    """Bigram LM with stupid backoff: fluent text composed of trained
    bigrams scores higher than garbled text that backs off everywhere."""
    from wvlet_spark.ops.text import bigram_lm_logprob

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on a log")],
        ["doc_id", "text"])
    score = spark.createDataFrame(
        [(10, "the cat sat on a log"), (11, "zq xv qq zz pp")],
        ["doc_id", "text"])
    r = {row.doc_id: row.avg_logp
         for row in bigram_lm_logprob(score, train_df=train).collect()}
    assert r[11] < r[10] < 0


def test_epoch_shuffle_deterministic_and_epoch_varying(spark):
    """Same epoch => identical global order regardless of partitioning;
    different epochs => different permutations; positions are dense
    1..n."""
    from wvlet_spark.ops.sampling import epoch_shuffle

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    a = [r.doc_id for r in epoch_shuffle(df, 1).collect()]
    b = [r.doc_id for r in epoch_shuffle(df.repartition(13), 1).collect()]
    c = [r.doc_id for r in epoch_shuffle(df, 2).collect()]
    assert a == b                      # partition-layout independent
    assert a != c                      # epochs permute differently
    assert sorted(a) == sorted(c) == list(range(3000))
    pos = [r.position for r in epoch_shuffle(df, 1).collect()]
    assert pos == list(range(1, 3001))  # dense 1-based rank


def test_bloom_build_membership_and_fp_rate(spark):
    """Every inserted key's positions are set in the built filter
    (no false negatives — the Bloom guarantee), and the false-positive
    rate on fresh keys stays near the analytic bound."""
    import hashlib

    from wvlet_spark.ops.sketches import bloom_build, bloom_positions

    rows = [(i, f"doc body number {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m, k = 1 << 14, 4
    words = {r.word_idx: r.bits
             for r in bloom_build(df, m_bits=m, k=k).collect()}

    def contains(text):
        h = hashlib.md5(text.strip().lower().encode()).hexdigest()
        return all(words.get(p // 32, 0) & (1 << (p % 32))
                   for p in bloom_positions(h, m, k))

    assert all(contains(t) for _, t in rows)
    fresh = [f"unseen document {i}" for i in range(2000)]
    fp = sum(contains(t) for t in fresh) / len(fresh)
    # n=300, m=16384, k=4 -> (1 - e^{-kn/m})^k ~ 3e-5; allow slack
    assert fp < 0.01, fp


def test_ngram_diversity_detects_repetition(spark):
    """A source of identical documents scores a far lower bigram TTR
    than a source of distinct documents."""
    from wvlet_spark.ops.text import ngram_diversity

    rows = [(i, "spam spam spam spam spam", "dup") for i in range(20)]
    rows += [(100 + i, f"unique words here number{i} item{i * 7}", "var")
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in ngram_diversity(df).collect()}
    assert out["dup"].bigram_ttr < 0.05
    assert out["var"].bigram_ttr > 0.5
    assert out["var"].d_unigrams > out["dup"].d_unigrams


def test_length_ntile_bins_equi_depth(spark):
    """Bins are equi-depth (sizes differ by <= 1), ordered, and cover
    every row exactly once."""
    from wvlet_spark.ops.text import length_ntile_bins

    rows = [(i, "x", "s", (i * 37) % 100) for i in range(103)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")
    out = sorted(length_ntile_bins(df, n_bins=8).collect(),
                 key=lambda r: r.bin)
    sizes = [r.n for r in out]
    assert sum(sizes) == 103
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(out, out[1:]):
        assert a.hi <= b.lo  # non-overlapping value ranges in bin order


def test_hard_negative_mining_semantics(spark):
    """Hard negatives never share the anchor's label, and the planted
    near-identical cross-label vector ranks first for its anchor."""
    from wvlet_spark.ops.similarity import hard_negative_mining

    rows = [
        (0, [1.0, 0.0, 0.0], 1),     # anchor (id % 5 == 0)
        (1, [0.99, 0.1, 0.0], 2),    # planted cross-label near-dup
        (2, [0.95, 0.2, 0.0], 1),    # same label — must be excluded
        (3, [0.0, 1.0, 0.0], 2),
        (4, [0.0, 0.0, 1.0], 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = hard_negative_mining(df, k=2, anchor_mod=5).collect()
    mine = [r for r in out if r.anchor_id == 0]
    assert all(r.neg_label != 1 for r in mine)
    assert mine[0].neg_id == 1 and mine[0].rank == 1
    assert len(mine) == 2


def test_funnel_semantics(spark):
    """Planted funnel: u1 completes A->B->C in order, u2 does B before
    A (no conversion past step 1), u3 misses the within deadline."""
    from wvlet_spark.ops.analytics import funnel

    rows = [
        (1, "2024-01-01 00:00:00", "A"), (1, "2024-01-01 01:00:00", "B"),
        (1, "2024-01-01 02:00:00", "C"),
        (2, "2024-01-01 00:00:00", "B"), (2, "2024-01-01 01:00:00", "A"),
        (3, "2024-01-01 00:00:00", "A"), (3, "2024-01-03 00:00:00", "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    out = {r.step: (r.users, r.pct)
           for r in funnel(df, ["A", "B", "C"],
                           within_seconds=86400).collect()}
    assert out["A"] == (3, 1.0)
    assert out["B"] == (1, round(1 / 3, 4))  # u2 out of order, u3 too late
    assert out["C"] == (1, round(1 / 3, 4))


def test_gap_fill_daily_locf(spark):
    """Gap days appear with n_events=0 and carry the last seen value."""
    from wvlet_spark.ops.analytics import gap_fill_daily

    rows = [(1, "2024-01-01 10:00:00", 2.0), (1, "2024-01-01 11:00:00", 3.0),
            (1, "2024-01-04 09:00:00", 7.5)]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double") \
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    out = sorted(gap_fill_daily(df).collect(), key=lambda r: r.day)
    assert [str(r.day) for r in out] == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    assert [r.n_events for r in out] == [2, 0, 0, 1]
    assert [r.value_filled for r in out] == [5.0, 5.0, 5.0, 7.5]


def test_retention_weekly_semantics(spark):
    """Week-0 cell counts the whole cohort; later cells only the active."""
    from wvlet_spark.ops.analytics import retention_weekly

    rows = [(1, "2024-01-01 08:00:00"), (1, "2024-01-10 08:00:00"),
            (2, "2024-01-02 08:00:00"),
            (3, "2024-01-09 08:00:00"), (3, "2024-01-16 08:00:00")]
    df = spark.createDataFrame(rows, "user_id long, ts string") \
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
    out = {(str(r.cohort_week), r.week_n): r.users
           for r in retention_weekly(df).collect()}
    # u1+u2 cohort Jan-1 week; u1 returns week 1.  u3 cohort Jan-8 week,
    # returns week 1.
    assert out[("2024-01-01", 0)] == 2
    assert out[("2024-01-01", 1)] == 1
    assert out[("2024-01-08", 0)] == 1
    assert out[("2024-01-08", 1)] == 1


def test_fuzzy_name_pairs(spark):
    """Planted near-identical names pair up; distinct blocks never
    compare; the block cap drops degenerate blocks."""
    from wvlet_spark.ops.dedup import fuzzy_name_pairs

    rows = [(1, "Acme Corporation A"), (2, "Acme Corporation B"),
            (3, "Acme Corporation AXY"),       # dist 2 from #1 — excluded
            (4, "Zenith Widget Works"),        # different block
            (5, "Acme Corporatiom A")]         # 1 substitution from #1
    df = spark.createDataFrame(rows, "id long, name string")
    out = {(r.id1, r.id2): r.dist
           for r in fuzzy_name_pairs(df, "id", "name",
                                     block_len=10, max_dist=1).collect()}
    assert (1, 2) in out and out[(1, 2)] == 1
    assert (1, 5) in out and out[(1, 5)] == 1
    assert all(4 not in pair for pair in out)
    assert (1, 3) not in out
    # cap: a block with more members than block_cap is dropped entirely
    capped = fuzzy_name_pairs(df, "id", "name", block_len=10,
                              max_dist=1, block_cap=3).collect()
    assert capped == []


def test_skew_report_semantics(spark):
    """The heavy key ranks first with the exact share; ties break by
    key text; rows beyond top_k are cut."""
    from wvlet_spark.ops.sketches import skew_report

    rows = [(k,) for k in ["a"] * 6 + ["b"] * 3 + ["c"] * 1]
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, ["k"], top_k=2).collect()
    assert [(r.key, r.n, r.share, r.rank) for r in out] == [
        ("a", 6, 0.6, 1), ("b", 3, 0.3, 2)]


def test_profile_numeric_semantics(spark):
    """Nulls counted, distincts exact, min/max/mean over non-nulls."""
    from wvlet_spark.ops.sketches import profile_numeric

    rows = [(1.0, 10), (2.0, 10), (None, 20), (2.0, None)]
    df = spark.createDataFrame(rows, "x double, y long")
    out = {r.col_name: r for r in profile_numeric(df, ["x", "y"]).collect()}
    assert (out["x"].n, out["x"].nulls, out["x"].n_distinct) == (3, 1, 2)
    assert (out["x"].min_v, out["x"].max_v) == (1.0, 2.0)
    assert out["x"].mean_v == round(5.0 / 3, 4)
    assert (out["y"].n, out["y"].nulls, out["y"].n_distinct) == (3, 1, 2)
    assert out["y"].mean_v == round(40 / 3, 4)


def test_funnel_latency_semantics(spark):
    """Planted funnel latencies: u1 converts A->B in 3600 s; the
    latency panel reports step-relative seconds from step 1."""
    from wvlet_spark.ops.analytics import funnel_latency

    rows = [
        (1, "2024-01-01 00:00:00", "A"), (1, "2024-01-01 01:00:00", "B"),
        (2, "2024-01-01 00:00:00", "A"), (2, "2024-01-01 03:00:00", "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    out = {r.step: r for r in funnel_latency(df, ["A", "B"]).collect()}
    assert out["A"].users == 2 and out["A"].avg_secs == 0.0
    assert out["B"].users == 2
    assert out["B"].avg_secs == 7200.0   # mean of 1h and 3h
    assert out["B"].p50_secs == 7200.0   # continuous median


def test_semantic_dedup_grouped_matches_join_strategy(spark):
    """Round-7 scale path: pair_strategy='grouped' (per-cluster blocked
    matmul, one corpus shuffle) must return EXACTLY the join strategy's
    rows — same dup_of (lowest qualifying id), same keep flags, same
    round-to-6 threshold behavior."""
    from wvlet_spark.ops.similarity import semantic_dedup
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(
        spark, "/root/testdata/sf0.01/embeddings.parquet")
    for thr in (0.9, 0.99):
        a = [tuple(r) for r in semantic_dedup(
            emb, n_clusters=8, threshold=thr).collect()]
        b = [tuple(r) for r in semantic_dedup(
            emb, n_clusters=8, threshold=thr,
            pair_strategy="grouped").collect()]
        assert a == b, f"strategy divergence at threshold {thr}"
    # singleton clusters: k larger than some cluster populations
    a = [tuple(r) for r in semantic_dedup(
        emb.limit(40), n_clusters=16, threshold=0.9).collect()]
    b = [tuple(r) for r in semantic_dedup(
        emb.limit(40), n_clusters=16, threshold=0.9,
        pair_strategy="grouped").collect()]
    assert a == b

def test_semantic_dedup_grouped_bounds_degenerate_clusters(spark):
    """Round-8 advisor fix pin: applyInPandas materializes a whole group
    as one pandas frame, so an all-identical-embeddings corpus (every
    vector lands in ONE cluster) must be sub-split by the secondary id
    hash before the group-by — otherwise a degenerate clustering puts the
    entire corpus in one worker's memory.  With the cap forced tiny the
    groups stay bounded and each sub-group keeps exactly its lowest id;
    with the default cap the single cluster dedups to one keeper."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.similarity import semantic_dedup

    n = 300
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in (1.0, 2.0, 3.0, 4.0)])
        .alias("embedding"))
    # default cap: one cluster, one keeper, everyone else dups to id 0
    out = semantic_dedup(df, n_clusters=4, threshold=0.99,
                         pair_strategy="grouped").collect()
    assert sum(r.keep for r in out) == 1
    assert all(r.dup_of == 0 for r in out if not r.keep)
    # tiny cap: sub-splitting fires -> ceil(300/64) = 5 hash sub-groups;
    # each keeps exactly its own lowest id (cross-sub pairs uncompared by
    # design), so keepers = number of non-empty sub-groups and every dup
    # points to a keeper in its own sub-group
    out = semantic_dedup(df, n_clusters=4, threshold=0.99,
                         pair_strategy="grouped",
                         max_group_rows=64).collect()
    keepers = {r.vec_id for r in out if r.keep}
    assert 2 <= len(keepers) <= 5
    assert all(r.dup_of in keepers for r in out if not r.keep)
    assert len(out) == n

def test_profile_numeric_parity_all_tables(spark):
    """Round-8 property pin (verdict ask): the SUMMARIZE import target
    (profile_numeric) must agree with DuckDB's exact per-column
    aggregates over EVERY testdata table and EVERY column — count,
    nulls, exact distinct for all columns; min/max/mean for the
    numerically-castable ones."""
    import duckdb

    from tests.conftest import SF_DIR
    from wvlet_spark.ops.sketches import profile_numeric
    from wvlet_spark.session import read_parquet_robust

    con = duckdb.connect()
    tables = ["region", "nation", "supplier", "part", "customer",
              "orders", "events", "documents"]
    for t in tables:
        path = f"{SF_DIR}/{t}.parquet"
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}'")
        df = read_parquet_robust(spark, path)
        cols = [f.name for f in df.schema.fields
                if not f.dataType.typeName().startswith(("array", "map",
                                                         "struct",
                                                         "binary"))]
        got = {r.col_name: r for r in profile_numeric(df, cols).collect()}
        assert set(got) == set(cols), t
        for c in cols:
            n, nulls, nd = con.execute(
                f'SELECT count("{c}"), count(*) - count("{c}"), '
                f'count(DISTINCT "{c}") FROM t').fetchone()
            r = got[c]
            assert (r.n, r.nulls, r.n_distinct) == (n, nulls, nd), (t, c)
            if r.min_v is not None:
                lo, hi, mu = con.execute(
                    f'SELECT round(min(CAST("{c}" AS DOUBLE)), 4), '
                    f'round(max(CAST("{c}" AS DOUBLE)), 4), '
                    f'round(avg(CAST("{c}" AS DOUBLE)), 4) '
                    f'FROM t').fetchone()
                assert (r.min_v, r.max_v) == (lo, hi), (t, c)
                assert abs(r.mean_v - mu) <= 1e-3, (t, c)


def test_python_udf_entries_rebuild_in_one_session(spark):
    """Round-9 regression pin: the SECOND build of the portable-minhash
    pipeline inside one session failed with INTERNAL_ERROR "Cannot
    evaluate expression: sig(...)" — Spark 4.1 stopped extracting the
    pandas UDF into ArrowEvalPython when its argument carried nested
    lambda expressions, leaving it in an interpreted Project.  The fix
    keeps UDF arguments lambda-free (plain split() tokens; shingling in
    Python).  Build-and-execute twice and require identical results."""
    from wvlet_spark.ops.registry import q_minhash_portable, q_stream_neardup

    for fn in (q_minhash_portable, q_stream_neardup):
        a = fn(spark, SF_DIR).collect()
        b = fn(spark, SF_DIR).collect()
        assert a == b


def test_sort_once_matches_plain_orderby(spark):
    """Round-9: final-output global sorts go through util.sort_once (lazy
    localCheckpoint below the range shuffle so the RangePartitioner's
    sampling job doesn't re-execute the upstream).  The helper must be a
    pure execution-strategy change: same rows, same order, same schema
    as a plain orderBy, including descending keys and post-shuffle input."""
    from pyspark.sql import functions as F

    from wvlet_spark.ops.util import sort_once

    df = (spark.range(0, 5000, numPartitions=7)
          .withColumn("k", F.pmod(F.col("id"), F.lit(37)))
          .groupBy("k").agg(F.count("*").alias("n"),
                            F.sum("id").alias("s")))
    plain = df.orderBy(F.col("s").desc(), "k").collect()
    once = df.transform(sort_once, F.col("s").desc(), "k").collect()
    assert once == plain
    # checkpoint=False (the measured per-entry revert path) must be the
    # same pure execution-strategy no-op
    off = df.transform(sort_once, F.col("s").desc(), "k",
                       checkpoint=False).collect()
    assert off == plain
    assert [f.name for f in df.transform(sort_once, "k").schema] == \
        [f.name for f in df.orderBy("k").schema]


def test_blocked_pair_cos_bit_parity_with_pair_udf(spark):
    """Round-9 blocked pair pass: _blocked_pair_cos must reproduce the
    classic pair self-join + _pair_dot_udf arithmetic EXACTLY (same pair
    set, bit-identical float64 cosines) — multi-block forced with a tiny
    block_rows so intra-block triu, cross-block grids, and the
    min/max id ordering are all exercised.  min_cos=-inf so the parity
    check sees every pair, prefilter-free."""
    import numpy as np
    from pyspark.sql import functions as F

    from wvlet_spark.ops.similarity import (_blocked_pair_cos,
                                            _norm_udf, _pair_dot_udf)
    from wvlet_spark.session import read_parquet_robust

    emb = read_parquet_robust(
        spark, "/root/testdata/sf0.01/embeddings.parquet")
    v = (emb.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("__v"))
         .withColumn("__n", _norm_udf(F.col("__v")))
         .withColumn("k", F.pmod(F.col("vec_id"), F.lit(3)).cast("int"))
         .localCheckpoint())

    l, r_ = v.alias("l"), v.alias("r")
    old = (l.join(r_, on=[F.col("l.k") == F.col("r.k"),
                          F.col("l.vec_id") < F.col("r.vec_id")])
           .select(F.col("l.vec_id").alias("id_a"),
                   F.col("r.vec_id").alias("id_b"),
                   (_pair_dot_udf(F.col("l.__v"), F.col("r.__v"))
                    / (F.col("l.__n") * F.col("r.__n"))).alias("c")))
    old_rows = {(r.id_a, r.id_b): r.c for r in old.collect()}

    for block_rows in (7, 200):
        new = _blocked_pair_cos(v, "vec_id", ["k"],
                                min_cos=float("-inf"),
                                block_rows=block_rows)
        new_rows = {(r.id_a, r.id_b): r["__cos"] for r in new.collect()}
        assert set(new_rows) == set(old_rows)
        diff = [p for p in old_rows
                if np.float64(old_rows[p]) != np.float64(new_rows[p])]
        assert not diff, f"cosine bits differ at block_rows={block_rows}: {diff[:5]}"

    # keyless (exact all-pairs) grouping: n*(n-1)/2 pairs exactly once
    small = v.limit(23).localCheckpoint()
    allp = _blocked_pair_cos(small, "vec_id", [],
                             min_cos=float("-inf"), block_rows=5)
    got = [(r.id_a, r.id_b) for r in allp.collect()]
    assert len(got) == len(set(got)) == 23 * 22 // 2
    assert all(a < b for a, b in got)

    # prefilter margin: every pair the JVM round-then-threshold accepts
    # must survive a (threshold - 1e-6) bound
    thr = 0.4
    full = _blocked_pair_cos(v, "vec_id", ["k"],
                             min_cos=float("-inf"))
    kept_full = {(r.id_a, r.id_b) for r in full.select(
        "id_a", "id_b", F.round(F.col("__cos"), 6).alias("rc"))
        .filter(F.col("rc") >= thr).collect()}
    pre = _blocked_pair_cos(v, "vec_id", ["k"], min_cos=thr - 1e-6)
    kept_pre = {(r.id_a, r.id_b) for r in pre.select(
        "id_a", "id_b", F.round(F.col("__cos"), 6).alias("rc"))
        .filter(F.col("rc") >= thr).collect()}
    assert kept_pre == kept_full
