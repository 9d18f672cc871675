"""Connected components over near-duplicate pair graphs.

Pairwise dedup (MinHash / SimHash / embedding-cosine) emits EDGES; the
artifact a training pipeline actually needs is the CLUSTER: every document
labeled with a canonical representative so one `where doc_id = cluster_id`
keeps exactly one copy per duplicate group.

Algorithm: iterative minimum-label propagation expressed as DataFrame
joins — each round every node adopts the smallest label among itself and
its neighbors; converges in O(graph diameter) rounds.  Duplicate clusters
are near-cliques (diameter 1-2 in practice), so the loop exits after 2-3
rounds; `max_iter` bounds pathological chain graphs.  Each round is one
shuffle of (node, label) pairs — edges are never re-materialized — and
label tables are checkpointed (each freed once its successor is), so the
lineage and the plan stay flat across iterations.  This is the standard
label-propagation formulation of connected components used by large-scale
dedup pipelines (cf. the alternating-star algorithms in the MapReduce CC
literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wvlet_spark.session import checkpoint, release


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(src, dst) edge list -> (id, component) with component = min node id
    reachable; isolated endpoints appear with themselves."""
    # The edge table is static across iterations and joined on `b` every
    # round: partition+sort it by the join key ONCE before checkpointing,
    # so each iteration's join reads it exchange-free and sort-free
    # (LogicalRDD preserves the checkpointed plan's partitioning and
    # ordering; only the per-iteration label table still shuffles —
    # guide §2.4 "two operations keyed the same way share one exchange").
    # The checkpoint is LAZY: the first iteration's job materializes it —
    # same single materialization as the old eager form, one fewer
    # job-launch barrier (round 9).
    # No dedup of the doubled edge list: min-label propagation is
    # insensitive to duplicate edges (they contribute redundant rows to
    # the per-round min, never a different answer), and every caller
    # emits unique (id_a < id_b) pairs — the previous `.distinct()` paid
    # a full extra shuffle of the edge table for nothing (round 9).
    e = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition("b")
        .sortWithinPartitions("b"))
    # Initial labels already carry the FIRST propagation round: with
    # identity labels, round 1 assigns every node min(self, neighbors),
    # which is exactly min(a, min b) over its edge rows — an aggregate
    # over the edge table with no join.  Fusing it into initialization
    # replaces the old identity-label `distinct` AND removes one full
    # edge-join round from the loop at every scale (round 9).
    labels = checkpoint(e.groupBy(F.col("a").alias("id"))
                        .agg(F.min(F.least("a", "b")).alias("comp")))
    # Convergence test: labels only ever DECREASE, so the label sum is
    # strictly monotone and "sum unchanged" <=> "no node changed" —
    # exact, and one tiny aggregate instead of the previous
    # new-vs-old join + count.  The checkpoint is lazy so the same
    # action that reads the sum also materializes it: ONE job per
    # iteration instead of two (round 9; decimal(38,0) keeps the sum
    # exact far beyond any realistic id range).
    prev_sum = labels.agg(
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    if prev_sum is None:  # empty edge table -> no labels to propagate
        release(e)
        return labels
    for _ in range(max_iter):
        # neighbor labels: for each edge a->b, b's current label is a
        # candidate for a
        nbr = (e.join(labels.withColumnRenamed("id", "b"), "b")
               .select(F.col("a").alias("id"), "comp"))
        new_labels = checkpoint(labels.select("id", "comp").union(nbr)
                                .groupBy("id")
                                .agg(F.min("comp").alias("comp")))
        s = new_labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        release(labels)
        labels = new_labels
        if s == prev_sum:
            break
        prev_sum = s
    release(e)
    return labels


def duplicate_clusters(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Label every document with its duplicate-cluster id (min doc id in
    the component); documents with no near-dup edge are their own cluster.
    Output: (doc_id, cluster_id, is_canonical)."""
    comp = connected_components(pairs, "id_a", "id_b")
    out = (docs.select(F.col(id_col))
           .join(comp.withColumnRenamed("id", id_col), id_col, "left")
           .select(
               F.col(id_col),
               F.coalesce("comp", F.col(id_col)).alias("cluster_id"))
           .withColumn("is_canonical",
                       (F.col(id_col) == F.col("cluster_id"))))
    return out


def canonical_representatives(clustered: DataFrame, docs: DataFrame,
                              score_col, id_col: str = "doc_id"
                              ) -> DataFrame:
    """One representative per duplicate cluster: highest `score_col`,
    lowest id on ties — the "keep the best copy" step after duplicate
    clustering in a training-data pipeline.

    `clustered` is duplicate_clusters() output (id, cluster_id);
    `score_col` is a Column evaluated against `docs` (e.g. a quality
    score or F.length("text")).  One window partitioned by cluster_id —
    a single shuffle of (id, cluster_id, score) rows, never documents."""
    from pyspark.sql import Window

    scored = (clustered
              .join(docs.select(F.col(id_col), score_col.alias("__score")),
                    id_col)
              .select(id_col, "cluster_id", "__score"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__score").desc(), F.col(id_col))
    return (scored
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("cluster_id",
                    F.col(id_col).alias("canonical_id"),
                    F.col("__score").alias("score")))
