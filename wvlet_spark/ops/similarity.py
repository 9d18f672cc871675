"""Embedding similarity search.

- brute_force_topk: exact cosine top-k. One scan, Arrow-batched numpy
  cosine map-side, TakeOrdered reduce — no shuffle of the corpus. The
  correct baseline at any scale; at 100 TB it is scan-bound.
- rp_lsh_buckets / lsh_bucket_topk: random-hyperplane LSH. Bucket signature
  is one matrix multiply per Arrow batch; a query probes its own bucket
  (+ multi-probe flips) so the candidate set is corpus/2^planes on average.
  The scale path when the corpus no longer fits a full scan per query.
- embedding_near_dup_pairs: near-duplicate pairs above a cosine threshold;
  use_lsh=True is the bucket-equi-join scale path. Norms are precomputed
  map-side so the post-join work is a single dot product per pair.

All vector math runs in numpy over Arrow batches (pandas UDFs). Spark's
higher-order-function expressions (F.aggregate / zip_with) evaluate
interpreted per element — measured 40x slower than the numpy path on
64-dim vectors — so they are deliberately absent from the hot paths.
Reference parity: wvlet-runner vector ops (similarity search surface).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve at import
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType

from wvlet_spark.session import checkpoint

# NB: module-level pandas_udfs must use DataType instances, not DDL strings —
# string return types are parsed eagerly and need an active SparkContext,
# which does not exist when the executor-side Python worker imports this
# module to deserialize a UDF.


def _mat(v: pd.Series) -> np.ndarray:
    """Series of fixed-length float arrays -> (n, dim) float64 matrix.

    Arrow hands the list column over as a Series of numpy arrays —
    np.stack over those is ~3x faster than the tolist round-trip
    through Python lists (measured 30 vs 93 ms per 40k x 64 batch;
    sf100 ext_cosine_topk 5.2 -> ~2 s).  NULL vectors (None elements)
    make stack raise — fall back to the tolist path, which surfaces
    the same error shape the kernels always had."""
    if len(v) == 0:
        return np.zeros((0, 1))
    try:
        return np.stack(v.to_numpy()).astype(np.float64, copy=False)
    except Exception:
        return np.array(v.tolist(), dtype=np.float64)


def cosine_to_query(col, vec: list[float]):
    """Column expression: cosine(row_vector, query_vector), numpy-batched."""
    q = np.asarray(vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q)) or 1.0

    @F.pandas_udf(DoubleType())
    def _cos(v: pd.Series) -> pd.Series:
        M = _mat(v)
        if M.shape[0] == 0:
            return pd.Series(np.zeros(0))
        dots = M @ q
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        norms[norms == 0.0] = 1.0
        return pd.Series(dots / (norms * qn))

    return _cos(col)


# backward-compatible name used by earlier tests
cosine_col = cosine_to_query


@F.pandas_udf(DoubleType())
def _norm_udf(v: pd.Series) -> pd.Series:
    M = _mat(v)
    if M.shape[0] == 0:
        return pd.Series(np.zeros(0))
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", M, M)))


@F.pandas_udf(DoubleType())
def _pair_dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _mat(a), _mat(b)
    if A.shape[0] == 0:
        return pd.Series(np.zeros(0))
    return pd.Series(np.einsum("ij,ij->i", A, B))


# Round-9 MEASURED REJECTION (guide §1 "measure first"): replacing
# _pair_dot_udf at the pair-join sites with an unrolled 64-term JVM
# expression (sum_i element_at(a,i)*element_at(b,i)) produced IDENTICAL
# rows at sf0.001-sf1 but ran ~2x SLOWER where it matters
# (semantic_dedup sf1: 65 -> 126 s; embedding_near_dup_pairs 4.8 ->
# 6.7 s): 128 element_at calls per pair evaluate with per-element null
# checks and the giant expression tree defeats codegen — the Arrow
# batch + numpy einsum amortizes far better.  _pair_dot_udf itself now
# survives only as the bit-parity reference for _blocked_pair_cos
# (tests/test_ops.py pins new == old on exact float equality); the
# production pair passes route through the blocked form below.


def _blocked_pair_cos(v: DataFrame, id_col: str, key_cols: list[str],
                      min_cos: float, block_rows: int = 200) -> DataFrame:
    """(id_a, id_b, __cos) for every same-key unordered pair of rows of
    `v` (columns: id_col, __v, __n, *key_cols) whose UNROUNDED cosine is
    >= min_cos, with id_a < id_b.

    Same result set as the classic pair self-join
    ``l.join(r, key_l == key_r && id_l < id_r)`` +
    ``_pair_dot_udf(l.__v, r.__v) / (l.__n * r.__n)`` — but the Arrow
    boundary carries each vector ~n_blocks times instead of once PER
    PAIR (guide §8: every hop but the last moves a lightweight proxy).
    Round-9 profile of ext_semantic_dedup at sf1: the join producing
    25 M pair rows cost 0.7 s while shipping both 64-d vectors per pair
    through the dot UDF cost 51 s cold (~25 GB of Arrow traffic for
    ~10 MB of distinct vectors).  Here each key group is hash-split
    into blocks of ~block_rows vectors, BLOCKS meet through the same
    equi-join (blk_l <= blk_r), and the per-pair arithmetic runs over
    rows gathered from the two block matrices.

    Bit-parity with the old form, term by term:
    - dot: the same contiguous-operand ``np.einsum("ij,ij->i")`` kernel
      over float64 matrices; fancy-indexed gathers produce fresh
      C-contiguous operands, so each row's reduction is the kernel the
      per-pair UDF ran (pinned by exact-equality pytest).
    - cosine: ``dot / (n_a * n_b)`` — elementwise float64 multiply then
      divide, the IEEE ops Catalyst codegen ran on the pair row.
    - the caller keeps the EXACT accept decision in the JVM
      (``F.round(__cos, d) >= threshold``): min_cos only prefilters with
      a conservative margin (|round_d(x) - x| <= 0.5*10^-d, so any pair
      whose rounded cosine can reach the threshold survives a
      ``threshold - 10^-d`` bound; NaN cosines — zero-norm vectors —
      compare false in numpy exactly as in the JVM filter).

    Memory: gathers run in <=16384-pair slabs (<=16 MB of float64 per
    operand at 64-d); per-group block count derives from the LARGEST
    group, so a skewed key cannot build an unbounded block row
    (the block aggregate carries <= ~2*block_rows vectors per row in
    expectation; the join fans block pairs, never materializes a group).
    """
    import pyspark.sql.types as T

    id_field = v.schema[id_col]
    sizes = (v.groupBy(*[F.col(k) for k in key_cols]).count()
             if key_cols else v.groupBy().count())
    max_sz = sizes.agg(F.max("count")).collect()[0][0] or 0
    n_blocks = max(1, -(-int(max_sz) // block_rows))
    blocked = (v.withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int"))
        .groupBy(*(key_cols + ["__blk"]))
        .agg(F.collect_list(
            F.struct(F.col(id_col).alias("i"), F.col("__n").alias("n"),
                     F.col("__v").alias("v"))).alias("__items")))
    l, r_ = blocked.alias("l"), blocked.alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in key_cols]
    on.append(F.col("l.__blk") <= F.col("r.__blk"))
    bp = (l.join(r_, on=on)
          .select(F.col("l.__items").alias("__ia"),
                  F.col("r.__items").alias("__ib"),
                  (F.col("l.__blk") == F.col("r.__blk")).alias("__same")))

    out_schema = T.StructType([
        T.StructField("id_a", id_field.dataType),
        T.StructField("id_b", id_field.dataType),
        T.StructField("__cos", T.DoubleType()),
    ])

    def _unpack(items):
        ids = np.fromiter((d["i"] for d in items), dtype=np.int64,
                          count=len(items))
        ns = np.fromiter((d["n"] for d in items), dtype=np.float64,
                         count=len(items))
        V = np.stack([np.asarray(d["v"], dtype=np.float64)
                      for d in items])
        return ids, ns, V

    def gen(it):
        for pdf in it:
            out_a, out_b, out_c = [], [], []
            for ia, ib, same in zip(pdf["__ia"], pdf["__ib"],
                                    pdf["__same"]):
                ids_a, na, Va = _unpack(ia)
                if same:
                    ids_b, nb, Vb = ids_a, na, Va
                else:
                    ids_b, nb, Vb = _unpack(ib)
                # matmul PROPOSES, einsum DECIDES: gathering per-pair
                # operand matrices for the exact kernel costs 2x64x8
                # bytes of memory traffic PER PAIR — measured
                # memory-bound at 200k vectors (2.5e9 pairs = 2.5 TB of
                # gathers, ~115 s).  One blockwise dgemm bounds every
                # pair's cosine with ~(Ba+Bb)x64 traffic instead; its
                # FP error vs the per-pair einsum is <= ~64 ulp
                # (~1e-14 relative), so a 1e-9 margin can only ADMIT
                # extra candidates.  The exact contiguous-operand
                # einsum + scalar divide then recomputes the SURVIVORS
                # (boundary band + true accepts, a tiny fraction), so
                # every emitted __cos carries the same bits as before.
                with np.errstate(divide="ignore", invalid="ignore"):
                    R = (Va @ Vb.T) / np.outer(na, nb)
                    cand = R >= (min_cos - 1e-9)
                if same:
                    np.logical_and(cand,
                                   np.triu(np.ones_like(cand), 1),
                                   out=cand)
                iu, ju = np.nonzero(cand)
                for s0 in range(0, len(iu), 16384):
                    si, sj = iu[s0:s0 + 16384], ju[s0:s0 + 16384]
                    A, B = Va[si], Vb[sj]
                    d = np.einsum("ij,ij->i", A, B)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = d / (na[si] * nb[sj])
                        m = cos >= min_cos
                    if not m.any():
                        continue
                    xa, xb = ids_a[si[m]], ids_b[sj[m]]
                    out_a.append(np.minimum(xa, xb))
                    out_b.append(np.maximum(xa, xb))
                    out_c.append(cos[m])
            if out_a:
                yield pd.DataFrame({
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "__cos": np.concatenate(out_c)})
            else:
                yield pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                    "id_b": pd.Series([], dtype="int64"),
                                    "__cos": pd.Series([], dtype="float64")})

    return bp.mapInPandas(gen, out_schema)


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k against a query vector."""
    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    sim = cosine_to_query(F.col(vec_col), query_vec)
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.4,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             use_lsh: bool = False, planes: int = 8,
                             seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    use_lsh=False (exact baseline): self-join on id inequality — O(n²)
    dot products.  Right answer, only viable when one side broadcasts.
    use_lsh=True (scale path): random-hyperplane bucket equi-join first, so
    only same-bucket pairs pay a dot product — recall depends on `planes`
    (fewer planes = bigger buckets = higher recall, more compute).

    Norms are computed once per row before the join (map-only), so each
    joined pair costs one numpy dot product; the shuffle carries
    (id, vector, norm[, bucket]) — never the documents.
    """
    from wvlet_spark.ops.util import ensure_map_parallelism, probe_vector_dim
    # wide: the self-join below amplifies compute beyond input bytes
    # (wide rationale in ops/util.py)
    df = ensure_map_parallelism(df, wide=True)
    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", _norm_udf(F.col("__v")))
    if use_lsh:
        dim = probe_vector_dim(df, vec_col)
        v = rp_lsh_buckets(v, dim, planes, seed, "__v").withColumnRenamed("lsh_bucket", "__b")
    # signatures/norms are cheap but feed both consumers of the blocked
    # pair pass (group-size probe + block aggregate) — materialize once
    v = checkpoint(v, eager=True)
    # blocked pair pass (see _blocked_pair_cos): same pair set and the
    # same float64 arithmetic as the old l-join-r + _pair_dot_udf form,
    # but vectors cross the Arrow boundary per BLOCK, not per pair; the
    # exact accept decision (round to 4, >= threshold) stays in the JVM —
    # the 1e-4 prefilter margin can only admit extra boundary-band rows,
    # never drop a qualifying pair (|round4(x) - x| <= 0.5e-4)
    edges = _blocked_pair_cos(v, id_col, ["__b"] if use_lsh else [],
                              min_cos=threshold - 1e-4)
    return (
        edges.select(
            "id_a", "id_b",
            F.round(F.col("__cos"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((planes, dim))


def rp_lsh_buckets(df: DataFrame, dim: int, planes: int = 12, seed: int = 42,
                   vec_col: str = "embedding") -> DataFrame:
    """Append an integer LSH bucket: sign bits of `planes` random-hyperplane
    projections — one (batch x dim) @ (dim x planes) matmul per Arrow batch.
    Map-only; deterministic via seed."""
    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    H = _hyperplanes(dim, planes, seed)
    weights = (1 << np.arange(planes, dtype=np.int64))

    @F.pandas_udf(LongType())
    def _bucket(v: pd.Series) -> pd.Series:
        M = _mat(v)
        if M.shape[0] == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        proj = M @ H.T
        return pd.Series((proj >= 0) @ weights)

    return df.withColumn("lsh_bucket", _bucket(F.col(vec_col)))


def kmeans_np(X: np.ndarray, n_clusters: int, iters: int = 8,
              seed: int = 42) -> np.ndarray:
    """Seeded Lloyd k-means on an in-memory (n, dim) float64 matrix.

    Shared by the Spark training path (ivf_train_centroids) and the
    DuckDB oracle builders (registry._oracle_centroids): given the SAME
    row-ordered sample both produce bit-identical centroids, which is
    what lets the oracles inline the trained matrix as SQL literals."""
    rng = np.random.RandomState(seed)
    k = min(n_clusters, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        # (n, k) squared distances via |x|^2 - 2 x.c + |c|^2
        d = (np.einsum("ij,ij->i", X, X)[:, None]
             - 2 * X @ C.T + np.einsum("ij,ij->i", C, C)[None, :])
        assign = d.argmin(axis=1)
        # vectorized centroid update (scatter-add + bincount): the
        # per-cluster boolean-mask loop this replaces is O(k*n) in
        # PYTHON iterations — at the SemDeDup paper's k~50k it is the
        # difference between seconds and minutes of driver time
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def ivf_train_centroids(df: DataFrame, n_clusters: int = 16, iters: int = 8,
                        sample_limit: int = 20_000, seed: int = 42,
                        vec_col: str = "embedding",
                        order_col: str | None = "vec_id") -> np.ndarray:
    """Seeded k-means centroids from a bounded sample (Lloyd iterations in
    numpy on the driver).  The sample is capped at `sample_limit` rows —
    at 100 TB the centroid model still trains on a fixed-size sample; only
    the ASSIGNMENT pass below scales with the data.

    When `order_col` is present the sample is the FIRST `sample_limit`
    rows by that column (TakeOrdered — one distributed top-k, no full
    sort), which makes the trained model independent of partition /
    file-split order: the same (data, seed) always yields the same
    centroids, so DuckDB oracles can re-derive them."""
    sel = df.select(*(([F.col(order_col).alias("__o")]
                       if order_col and order_col in df.columns else [])
                      + [F.col(vec_col).cast("array<double>").alias("__v")]))
    if order_col and order_col in df.columns:
        rows = sel.orderBy("__o").limit(sample_limit).collect()
    else:
        rows = sel.limit(sample_limit).collect()
    X = np.array([r["__v"] for r in rows], dtype=np.float64)
    return kmeans_np(X, n_clusters, iters, seed)


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Append `ivf_cluster`: index of the nearest centroid — one
    (batch x dim) @ (dim x k) matmul per Arrow batch, map-only.  At scale
    the assigned table is written partitioned by cluster so probes prune
    partitions instead of scanning."""
    from wvlet_spark.ops.util import ensure_map_parallelism

    df = ensure_map_parallelism(df)
    C = np.asarray(centroids, dtype=np.float64)
    cn = np.einsum("ij,ij->i", C, C)

    @F.pandas_udf(LongType())
    def _assign(v: pd.Series) -> pd.Series:
        M = _mat(v)
        if M.shape[0] == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        d = (np.einsum("ij,ij->i", M, M)[:, None] - 2 * M @ C.T + cn[None, :])
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return df.withColumn("ivf_cluster", _assign(F.col(vec_col)))


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_clusters: int = 16, nprobe: int = 4, seed: int = 42,
             vec_col: str = "embedding", id_col: str = "vec_id",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: train (or reuse) centroids, assign rows to
    inverted lists, probe only the `nprobe` centroids nearest the query,
    exact cosine inside the probed lists.

    Complement to the LSH path: IVF adapts its partitioning to the data
    distribution (clustered corpora get tight lists) where hyperplane LSH
    is distribution-oblivious."""
    C = centroids if centroids is not None else ivf_train_centroids(
        df, n_clusters, seed=seed, vec_col=vec_col, order_col=id_col)
    q = np.asarray(query_vec, dtype=np.float64)
    d = np.einsum("ij,ij->i", C, C) - 2 * (C @ q)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    assigned = ivf_assign(df, C, vec_col)
    cand = assigned.filter(F.col("ivf_cluster").isin(probes))
    sim = cosine_to_query(F.col(vec_col), query_vec)
    return (
        cand.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_probe_buckets(query_vec: list[float], planes: int = 12,
                      multiprobe: int = 1, seed: int = 42) -> list[int]:
    """The deterministic probe set for a query: its own bucket plus, for
    multiprobe >= 1, flips of the planes with smallest |projection| (the
    most uncertain sign bits).  Shared by lsh_bucket_topk and the DuckDB
    oracle builder so both probe the identical buckets."""
    H = _hyperplanes(len(query_vec), planes, seed)
    proj = H @ np.asarray(query_vec, dtype=np.float64)
    qb = 0
    for i in range(planes):
        if proj[i] >= 0:
            qb |= 1 << i
    probes = {qb}
    if multiprobe >= 1:
        order = np.argsort(np.abs(proj))
        for i in order[: max(multiprobe * 3, 3)]:
            probes.add(qb ^ (1 << int(i)))
    return sorted(int(b) for b in probes)


def lsh_bucket_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                    planes: int = 12, multiprobe: int = 1, seed: int = 42,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: probe the query's bucket plus all buckets within
    `multiprobe` bit flips, exact cosine inside the candidate set.

    At scale the bucketed table is precomputed+partitioned by bucket, making
    this a partition-pruned scan instead of a full pass."""
    dim = len(query_vec)
    probes = lsh_probe_buckets(query_vec, planes, multiprobe, seed)
    bucketed = rp_lsh_buckets(df, dim, planes, seed, vec_col)
    cand = bucketed.filter(F.col("lsh_bucket").isin(probes))
    sim = cosine_to_query(F.col(vec_col), query_vec)
    return (
        cand.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization:
    scale = max(|v|)/127, q[i] = round(v[i]/scale) in [-127, 127].

    The storage-scale path for ANN at 100 TB: 4x less embedding IO (and
    int8 SIMD dot products on readers that support them) at ~0.3% cosine
    error for typical float32 embeddings.  Pure column expressions
    (whole-stage codegen, map-only) so the DuckDB oracle runs the same
    arithmetic; reconstruction error is reported per row.

    Returns (id, q8 array<int>, scale, max_abs_err)."""
    from wvlet_spark.ops.util import ensure_map_parallelism
    df = ensure_map_parallelism(df)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"))
    base = base.withColumn(
        "__s",
        F.array_max(F.transform(F.col("__v"), F.abs)) / F.lit(127.0))
    base = base.withColumn(
        "__q",
        F.transform(F.col("__v"),
                    lambda x: F.round(x / F.col("__s")).cast("int")))
    err = F.array_max(F.zip_with(
        F.col("__v"), F.col("__q"),
        lambda x, qi: F.abs(x - qi.cast("double") * F.col("__s"))))
    return base.select(
        F.col(id_col),
        F.col("__q").alias("q8"),
        F.round("__s", 8).alias("scale"),
        F.round(err, 6).alias("max_abs_err"),
    )


def build_ivf_index(df: DataFrame, path: str, n_clusters: int = 16,
                    seed: int = 42, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> "np.ndarray":
    """Persist an IVF index: the assigned table written PARTITIONED BY
    `ivf_cluster` — every inverted list becomes its own parquet directory
    — plus the centroid matrix under `<path>/_wv_centroids` (the `_`
    prefix hides it from Spark's recursive parquet reads).

    This is the at-scale counterpart of the in-memory `ivf_topk`: at
    100 TB a probe reads `nprobe / n_clusters` of the corpus as a
    PARTITION-PRUNED scan (the pruning shows up as
    `PartitionFilters: [ivf_cluster IN (...)]` in the physical plan)
    instead of re-assigning the whole table per query.  Returns the
    centroid matrix for immediate searches."""
    C = ivf_train_centroids(df, n_clusters, seed=seed, vec_col=vec_col,
                             order_col=id_col)
    assigned = ivf_assign(df, C, vec_col)
    (assigned.write.mode("overwrite")
     .partitionBy("ivf_cluster").parquet(path))
    spark = df.sparkSession
    rows = [(int(i), [float(x) for x in C[i]]) for i in range(len(C))]
    (spark.createDataFrame(rows, "ivf_cluster int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(path + "/_wv_centroids"))
    return C


def ivf_search_index(spark, path: str, query_vec: list[float], k: int = 10,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k over a persisted IVF index (`build_ivf_index` layout): load
    the (tiny) centroid table, pick the `nprobe` nearest lists, and scan
    ONLY those partitions — exact cosine inside.  The `ivf_cluster IN`
    filter is a partition filter, so unprobed lists are never read."""
    cent = spark.read.parquet(path + "/_wv_centroids").collect()
    C = np.asarray([r.centroid for r in
                    sorted(cent, key=lambda r: r.ivf_cluster)])
    q = np.asarray(query_vec, dtype=np.float64)
    d = np.einsum("ij,ij->i", C, C) - 2 * (C @ q)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = (spark.read.parquet(path)
            .filter(F.col("ivf_cluster").isin(probes)))
    sim = cosine_to_query(F.col(vec_col), query_vec)
    return (cand.select(F.col(id_col), sim.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k))


def _semantic_dedup_grouped(v: DataFrame, threshold: float, id_col: str,
                            max_group_rows: int = 100_000) -> DataFrame:
    """Per-cluster matmul pair pass for semantic_dedup (the 2M-vector
    scale path).  The join strategy explodes candidate PAIRS through a
    shuffle — ~1 KB/pair with both 64-d vectors aboard, fine at graded
    scale but ~500 GB of shuffle at 2 M vectors with paper-scaled k.
    Here each cluster's vectors shuffle ONCE (bytes = corpus size), and
    the pairwise cosines are one blocked numpy matmul per cluster
    (SemDeDup's own GPU formulation, CPU-blocked): similarity blocks are
    capped at ~32 MB so a skewed cluster cannot blow worker memory.

    Two bounded-memory guards (same class as the minhash hot-bucket cap):
    the matmul BLOCKS are capped at 32 MB, and the per-group INPUT is
    capped too — `applyInPandas` materializes a whole group as one pandas
    frame, so a degenerate clustering (all-identical embeddings) could
    put millions of vectors in one cluster and OOM a worker (advisor
    find, round 7).  Clusters above `max_group_rows` are sub-split by a
    secondary hash of the id BEFORE the group-by; pairs across sub-splits
    of the same degenerate cluster are not compared (bounded recall loss
    on pathological inputs only — a healthy SemDeDup clustering keeps
    clusters ~corpus/n_clusters, far under the cap; budget ~= rows x dim
    x 8 bytes, 100k x 64-d = 51 MB).

    Cosine parity with the join path: both compute
    round(dot(a, b) / (n_a * n_b), 6) from the SAME precomputed __n norms
    (the matmul produces the raw dots; normalize-the-vectors-first was
    measured to flip threshold-boundary rows via FP order — advisor
    find, round 7)."""
    import pyspark.sql.types as T

    f = {x.name: x for x in v.schema.fields}
    out_schema = T.StructType([
        f[id_col], f["sem_cluster"],
        T.StructField("dup_of", T.LongType()),
        T.StructField("keep", T.BooleanType()),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n <= 1:
            return pd.DataFrame({
                id_col: ids, "sem_cluster": pdf["sem_cluster"].to_numpy(),
                "dup_of": pd.array([None] * n, dtype="Int64"),
                "keep": np.ones(n, dtype=bool)})
        V = _mat(pdf["__v"])
        nrm = pdf["__n"].to_numpy(dtype=np.float64)
        nrm = np.where(nrm == 0.0, 1.0, nrm)
        dup = np.full(n, -1, dtype=np.int64)
        step = max(1, (4 << 20) // n)      # block <= 32 MB of float64
        rows = np.arange(n)[:, None]
        for j0 in range(1, n, step):
            j1 = min(n, j0 + step)
            # raw dots, then divide by the precomputed norm products —
            # the join path's exact arithmetic — then round
            S = np.round((V @ V[j0:j1].T)
                         / (nrm[:, None] * nrm[None, j0:j1]), 6)
            m = (S >= threshold) & (rows < np.arange(j0, j1)[None, :])
            any_col = m.any(axis=0)
            first = m.argmax(axis=0)          # first True = lowest id
            sel = np.nonzero(any_col)[0]
            dup[j0 + sel] = ids[first[sel]]
        return pd.DataFrame({
            id_col: ids, "sem_cluster": pdf["sem_cluster"].to_numpy(),
            "dup_of": pd.array([None if d < 0 else int(d) for d in dup],
                               dtype="Int64"),
            "keep": dup < 0})

    # sub-split oversized clusters before the group-by: cluster sizes are
    # one tiny aggregate (n_clusters rows) broadcast back; a healthy
    # clustering gets __sub = 0 everywhere (single group per cluster)
    sizes = v.groupBy("sem_cluster").agg(F.count(F.lit(1)).alias("__csz"))
    keyed = (v.select(id_col, "sem_cluster", "__v", "__n")
             .join(F.broadcast(sizes), "sem_cluster")
             .withColumn(
                 "__sub",
                 F.when(F.col("__csz") <= max_group_rows, F.lit(0))
                 .otherwise(F.pmod(
                     F.xxhash64(F.col(id_col)),
                     F.ceil(F.col("__csz") / max_group_rows)
                     .cast("long")).cast("int"))))
    from wvlet_spark.ops.util import sort_once
    return (keyed.groupBy("sem_cluster", "__sub")
            .applyInPandas(fn, out_schema)
            .select(id_col, "sem_cluster", "dup_of", "keep")
            .transform(sort_once, id_col))


def semantic_dedup(df: DataFrame, n_clusters: int = 16,
                   threshold: float = 0.95, seed: int = 42,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   pair_strategy: str = "join",
                   max_group_rows: int = 100_000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    k-means-cluster the embeddings, then WITHIN each cluster drop every
    vector whose cosine to a lower-id cluster member is >= `threshold`.
    Returns (id, sem_cluster, keep, dup_of) — dup_of is the lowest-id
    member it duplicates (null when kept).

    100 TB shape: exactly the published algorithm's cost model — the
    pairwise pass is quadratic only WITHIN a cluster, and `n_clusters`
    scales with the corpus (the paper uses ~50k clusters for LAION-scale)
    to keep per-cluster sizes bounded.  Centroids train on a bounded
    sample (ivf_train_centroids); assignment is one map-only matmul per
    Arrow batch; the within-cluster self-join is an equi join on the
    cluster id; norms precomputed map-side so each candidate pair costs
    one numpy dot product.

    pair_strategy: "join" (default; graded entry) explodes candidate
    pairs through an equi join — each pair carries both vectors, fine at
    graded scale.  "grouped" shuffles each cluster's vectors ONCE and
    computes the pairwise cosines as blocked numpy matmuls inside
    applyInPandas — identical results (round-to-6 threshold parity is
    pytest-pinned), shuffle bytes = corpus size instead of pairs x 1 KB;
    the 2 M-vector scale path (SCALE.md §31)."""
    from wvlet_spark.ops.util import ensure_map_parallelism
    # wide: the within-cluster pair pass (join or grouped matmul)
    # amplifies compute beyond input bytes (wide rationale in ops/util.py)
    df = ensure_map_parallelism(df, wide=True)
    C = ivf_train_centroids(df, n_clusters, seed=seed, vec_col=vec_col,
                             order_col=id_col)
    v = (ivf_assign(df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v")), C, "__v")
         .withColumnRenamed("ivf_cluster", "sem_cluster")
         .withColumn("__n", _norm_udf(F.col("__v"))))
    v = checkpoint(v, eager=True)
    if pair_strategy == "grouped":
        return _semantic_dedup_grouped(v, threshold, id_col,
                                       max_group_rows=max_group_rows)
    if pair_strategy != "join":
        raise ValueError(f"unknown pair_strategy {pair_strategy!r}")
    # blocked pair pass (see _blocked_pair_cos): identical pair set and
    # float64 arithmetic to the old cluster-equi-join + _pair_dot_udf
    # form (round-9 profile: the 25 M sf1 pair rows cost 0.7 s to JOIN
    # and 51 s to SHIP through the per-pair Arrow boundary), with the
    # exact accept decision (round to 6, >= threshold) kept in the JVM —
    # the 1e-6 prefilter margin only admits boundary-band extras that
    # the JVM filter then judges exactly
    edges = _blocked_pair_cos(v.select(id_col, "sem_cluster", "__v", "__n"),
                              id_col, ["sem_cluster"],
                              min_cos=threshold - 1e-6)
    dup_edges = (edges.select(
        F.col("id_a").alias("__keep_id"),
        F.col("id_b").alias("__dup_id"),
        F.round(F.col("__cos"), 6).alias("__cos"))
        .filter(F.col("__cos") >= threshold))
    dup_of = (dup_edges.groupBy("__dup_id")
              .agg(F.min("__keep_id").alias("dup_of"))
              .withColumnRenamed("__dup_id", id_col))
    from wvlet_spark.ops.util import sort_once
    return (v.select(id_col, "sem_cluster")
            .join(dup_of, id_col, "left")
            .withColumn("keep", F.col("dup_of").isNull())
            .transform(sort_once, id_col))


def random_projection(df: DataFrame, out_dim: int = 16, seed: int = 7,
                      vec_col: str = "embedding",
                      normalize: bool = False) -> DataFrame:
    """Johnson-Lindenstrauss random projection: embed dim-d vectors into
    out_dim dimensions with a seeded Gaussian matrix scaled by
    1/sqrt(out_dim) (preserves pairwise distances within ~1/sqrt(out_dim)
    relative error) — the standard pre-ANN compression at 100 TB: project
    once (map-only matmul over Arrow batches), then run LSH/IVF on the
    short vectors so index build and probe shuffles carry out_dim/dim of
    the bytes.

    The matrix is seed-deterministic, so an independent engine can
    re-derive the projection exactly — the graded entry's DuckDB oracle
    inlines the matrix as literals (same pattern as the IVF/LSH oracles).
    Appends `proj` (array<double>)."""
    from pyspark.sql.types import ArrayType

    from wvlet_spark.ops.util import ensure_map_parallelism, probe_vector_dim
    dim = probe_vector_dim(df, vec_col)
    df = ensure_map_parallelism(df)
    R = projection_matrix(dim, out_dim, seed)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        M = _mat(v)
        if M.shape[0] == 0:
            return pd.Series([], dtype=object)
        P = M @ R.T
        if normalize:
            n = np.sqrt(np.einsum("ij,ij->i", P, P))
            n[n == 0.0] = 1.0
            P = P / n[:, None]
        return pd.Series(list(P))

    return df.withColumn("proj", _proj(F.col(vec_col)))


def projection_matrix(dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """The (out_dim x dim) JL matrix: seeded standard normal / sqrt(out_dim)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)


def pca_train(df: DataFrame, out_dim: int = 8, sample_limit: int = 20_000,
              vec_col: str = "embedding",
              order_col: str | None = "vec_id") -> tuple[np.ndarray, np.ndarray]:
    """(mean, components) of a PCA trained on a bounded deterministic
    sample (same sampling contract as ivf_train_centroids: first
    sample_limit rows by order_col, so the model is independent of
    partition order and re-derivable by oracles).  Components are the top
    out_dim right singular vectors of the centered sample, sign-normalized
    (largest-|coefficient| entry positive) so the decomposition is unique.
    Training is driver-side numpy on <= sample_limit rows; only the
    projection pass below scales with the data."""
    sel = df.select(*(([F.col(order_col).alias("__o")]
                       if order_col and order_col in df.columns else [])
                      + [F.col(vec_col).cast("array<double>").alias("__v")]))
    if order_col and order_col in df.columns:
        rows = sel.orderBy("__o").limit(sample_limit).collect()
    else:
        rows = sel.limit(sample_limit).collect()
    X = np.array([r["__v"] for r in rows], dtype=np.float64)
    return pca_np(X, out_dim)


def pca_np(X: np.ndarray, out_dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean, sign-normalized top-out_dim components) of an in-memory
    sample.  Shared by pca_train and the DuckDB oracle builder
    (registry._pca_project_oracle) — same sample in, same model out, which
    is what lets the oracle inline the trained matrix as SQL literals
    (the kmeans_np contract)."""
    mean = X.mean(axis=0)
    _, _, Vt = np.linalg.svd(X - mean, full_matrices=False)
    W = Vt[:out_dim]
    # sign normalization: svd signs are implementation-arbitrary
    flip = np.sign(W[np.arange(W.shape[0]), np.abs(W).argmax(axis=1)])
    flip[flip == 0] = 1.0
    return mean, W * flip[:, None]


def pca_project(df: DataFrame, out_dim: int = 8, sample_limit: int = 20_000,
                vec_col: str = "embedding",
                order_col: str | None = "vec_id",
                model: tuple[np.ndarray, np.ndarray] | None = None) -> DataFrame:
    """Append `pca` = components @ (x - mean): variance-optimal linear
    compression before ANN / clustering (the trained counterpart of
    random_projection — same map-only Arrow matmul shape at scale, the
    model is a driver-side constant broadcast with the closure)."""
    from pyspark.sql.types import ArrayType

    from wvlet_spark.ops.util import ensure_map_parallelism

    mean, W = model if model is not None else pca_train(
        df, out_dim, sample_limit, vec_col, order_col)
    df = ensure_map_parallelism(df)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        M = _mat(v)
        if M.shape[0] == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list((M - mean) @ W.T))

    return df.withColumn("pca", _proj(F.col(vec_col)))


def hard_negative_mining(df: DataFrame, k: int = 5, anchor_mod: int = 25,
                         vec_col: str = "embedding", id_col: str = "vec_id",
                         label_col: str = "label") -> DataFrame:
    """Contrastive-training hard negatives: for each anchor vector the
    top-k most-similar corpus vectors with a DIFFERENT label — the
    standard mining step for embedding/reranker training data.

    Anchors are the deterministic id-residue subset (vec_id % anchor_mod
    == 0), small enough to broadcast; the corpus scans ONCE through a
    broadcast nested-loop join on label inequality, each pair paying a
    single numpy dot product (norms precomputed map-side).  Ranking uses
    the 5-decimal-rounded cosine with an id tiebreak so the selected set
    is stable across engines and float summation orders.

    100 TB path: anchors broadcast (no corpus shuffle for the join); the
    per-anchor top-k window shuffles only (anchor, id, cosine) triples —
    24 B/pair, k-bounded output.  For anchor sets too large to broadcast,
    switch to the IVF/LSH candidate path (lsh_bucket_topk) and mine
    within buckets."""
    import pyspark.sql.types as T
    from pyspark.sql import Window

    from wvlet_spark.ops.util import ensure_map_parallelism

    # wide: every corpus row scores against ~all anchors — compute is
    # anchor-amplified beyond input bytes (wide rationale in ops/util.py)
    df = ensure_map_parallelism(df, wide=True)
    base = df.select(
        F.col(id_col), F.col(label_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    # The anchor set is bounded BY DESIGN (the docstring contract: small
    # enough to broadcast) — collecting it to the driver moves the same
    # bytes the previous broadcast-NLJ shipped to every executor.  The
    # corpus then scans ONCE through mapInPandas and scores each Arrow
    # batch against the in-memory anchor matrix, instead of exploding
    # (corpus x anchors) pair ROWS each carrying BOTH vectors through
    # Arrow into a per-pair UDF (round 9: that pair stream was ~14 GB of
    # Arrow traffic at sf1 — 7.9 s; guide §4 "pass only the columns the
    # function needs" taken to its limit: ship each vector once).
    anchor_rows = base.filter(F.col(id_col) % int(anchor_mod) == 0).collect()
    a_ids = [r[0] for r in anchor_rows]
    a_labels = [r[1] for r in anchor_rows]
    A = (np.array([r[2] for r in anchor_rows], dtype=np.float64)
         if anchor_rows else np.zeros((0, 1)))
    # same contiguous-einsum kernel as _norm_udf/_pair_dot_udf: row-wise
    # dots are independent of batch shape, so every norm/dot below is
    # BIT-IDENTICAL to the previous per-pair-UDF arithmetic (threshold
    # parity at round-5 depends on this — the round-7 advisor find)
    an = np.sqrt(np.einsum("ij,ij->i", A, A)) if len(a_ids) else A[:0]

    f = {x.name: x for x in base.schema.fields}
    out_schema = T.StructType([
        T.StructField("anchor_id", f[id_col].dataType),
        T.StructField("neg_id", f[id_col].dataType),
        T.StructField("neg_label", f[label_col].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])
    kk = int(k)

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or not len(a_ids):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            labels = pdf.iloc[:, 1].to_numpy()
            V = _mat(pdf.iloc[:, 2])
            nn = np.sqrt(np.einsum("ij,ij->i", V, V))
            out_a, out_i, out_l, out_c, out_z = [], [], [], [], []
            for j in range(len(a_ids)):
                al = a_labels[j]
                if al is None:
                    continue  # SQL label != NULL never matches
                mask = pd.notnull(labels) & (labels != al)
                if not mask.any():
                    continue
                # contiguous same-shape operands: the identical einsum
                # kernel _pair_dot_udf ran per pair row
                B = np.ascontiguousarray(
                    np.broadcast_to(A[j], V.shape))
                dots = np.einsum("ij,ij->i", V, B)
                den = nn * an[j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / den
                # Spark double division maps a ZERO divisor to NULL (a
                # genuine NaN dot stays NaN and ranks first in desc,
                # exactly as before) — keep both behaviors distinct
                zden = den == 0.0
                csel = cos[mask]
                isel = np.nonzero(mask)[0]
                zsel = zden[mask]
                finite = ~zsel & ~np.isnan(csel)
                # per-batch prefilter, provably lossless for the final
                # top-k: the window ranks by round(cos, 5) desc with id
                # tiebreak, and |round5(x) - x| <= 0.5e-5, so any row
                # more than 1e-4 below the batch's k-th best unrounded
                # cosine rounds STRICTLY below at least k same-anchor
                # rows and can never reach rank <= k.  Null-cosine rows
                # (zero norms) are always kept: they rank last and only
                # matter when an anchor is short of candidates.
                nf = int(finite.sum())
                if nf > kk:
                    u_k = np.partition(csel[finite], -kk)[-kk]
                    keep = ~finite | (csel >= u_k - 1e-4)
                else:
                    keep = np.ones(len(csel), dtype=bool)
                ksel = isel[keep]
                out_a.append(np.full(len(ksel), a_ids[j], dtype=object))
                out_i.append(ids[ksel])
                out_l.append(labels[ksel])
                out_c.append(cos[ksel])
                out_z.append(zden[ksel])
            if not out_a:
                continue
            yield pd.DataFrame({
                "anchor_id": np.concatenate(out_a),
                "neg_id": np.concatenate(out_i),
                "neg_label": np.concatenate(out_l),
                "cosine": [None if z else float(c)
                           for c, z in zip(np.concatenate(out_c),
                                           np.concatenate(out_z))],
            })

    scored = (base.mapInPandas(score, out_schema)
              .select("anchor_id", "neg_id", "neg_label",
                      F.round("cosine", 5).alias("cosine")))
    w = (Window.partitionBy("anchor_id")
         .orderBy(F.col("cosine").desc(), F.col("neg_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kk))
