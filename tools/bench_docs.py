#!/usr/bin/env python
"""Scale curve for the LLM-data-pipeline ops on a 5M-document corpus
(SCALE.md §29).

§14/§19 measured the doc/vector ops at sf10 (500 k docs / 200 k
vectors); this harness runs the same GRADED entries — the exact
callables the driver grades, no bench-special paths — on a 10x corpus
(documents/embeddings replicated 1000x from sf0.1: 5 M word-permuted
docs, 2 M noise-jittered vectors), generated by

    python tools/gen_sf1.py --out /tmp/wv/docs1000 --replicas 1000 \
        --tables documents,embeddings

Prints one JSON line: {"queries": {op: {"s": best, "rows": n}}, ...}.
Each op runs REPEATS times (default 2), best-of; rows are counted once
so the work is forced end-to-end without driver-side transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

# ext_semantic_dedup / ext_embedding_dedup are deliberately absent:
# the graded entries fix n_clusters/thresholds for sf0.01 gradability,
# and the 1000-replica corpus plants ~999 near-dups per vector — any
# CORRECT near-dup pass returns ~1e9 pairs there, so a timing would
# measure the output cap, not the operator (see SCALE.md §29).
OPS = [
    "ext_exact_dedup",
    "ext_minhash_pairs",
    "ext_language_id",
    "ext_quality_score",
    "ext_token_stats",
    "ext_decontaminate",
    "ext_boilerplate",
    "ext_tfidf_terms",
    "ext_cosine_topk",
    "ext_lsh_topk",
    "ext_ivf_topk",
]
if os.environ.get("SPARK_GRAFT_OPS"):
    OPS = os.environ["SPARK_GRAFT_OPS"].split(",")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/wv/docs1000"
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))

    from wvlet_spark.config import make_spark

    # the engine's scale branch splits the scan data/(cores*3) — the
    # default 128 MB splits would scan this ~600 MB corpus with ~5 tasks
    # on 32 cores
    spark = make_spark(sf_dir)

    import __spark_entry__ as entry

    from pyspark.sql import functions as F

    def force(df):
        # count() alone lets Catalyst PRUNE projection-only work (the
        # quality/token ops measured ~1 s for 5M docs — the scores were
        # never computed).  Hash every output column per row and
        # aggregate, so the full result must materialize.
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        row = df.select(h.alias("__h")) \
            .agg(F.count("__h").alias("n"),
                 F.expr("bit_xor(__h)")).collect()[0]
        return row["n"]

    qs = entry.queries()
    out = {"metric": "doc_ops_wall", "sf_dir": sf_dir, "queries": {}}
    for op in OPS:
        fn = qs[op]
        best, rows = float("inf"), None
        for _ in range(repeats):
            t0 = time.time()
            n = force(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
            rows = n
        out["queries"][op] = {"s": round(best, 2), "rows": rows}
        print(f"# {op}: {out['queries'][op]}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
