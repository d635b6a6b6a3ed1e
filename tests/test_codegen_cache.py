"""A repeated operator chain compiles (next to) nothing: the session's
codegen cache holds the dedup + ANN working set, so the second run on
fresh inputs of the same shape is served from compiled classes."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from polars_nexpresso_spark.functions import dedup, similarity as sim

# Classes the second run may still compile. The chain needs ~150 distinct
# classes; with Spark's default 100-entry cache the second run compiled
# 128 of them again. What remains comes from AQE's runtime re-planning: a
# stage planned in another order gets another codegen stage id, and the id
# is part of the generated source (0-11 classes per repeat at local[4]).
MAX_RECOMPILES = 20


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _docs(spark, rng):
    """50 documents with the same duplicate structure on every seed, so the
    connected-components loop runs the same rounds: 30 of random tokens,
    a near-copy of each of the first 15, and a near-copy of the first 5
    copies."""
    def token():
        return f"t{rng.randrange(10**6):06d}"

    texts = [" ".join(token() for _ in range(12)) for _ in range(30)]
    texts += [t + " " + token() for t in texts[:15]]
    texts += [t + " " + token() for t in texts[30:35]]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _vectors(spark, rng):
    """200 random 8-d vectors, and 10 of them as the query frame."""
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(200)]
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(rng.sample(rows, 10), schema),
    )


def _chain(spark, seed: int) -> None:
    """minhash → dedup_clusters → keep_best, then IVF and IVF-PQ + rerank."""
    rng = random.Random(seed)
    docs = _docs(spark, rng)
    try:
        pairs = dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.5
        )
        clusters = dedup.dedup_clusters(docs, pairs, "doc_id")
        kept = dedup.keep_best_in_clusters(
            docs.withColumn("quality", F.length("text")), clusters, "doc_id", "quality"
        )
        assert kept.collect()
    finally:
        dedup.release_blocking_caches()
    emb, queries = _vectors(spark, rng)
    assert sim.ivf_ann_topk(emb, queries, k=5, n_centroids=4, n_probe=2).collect()
    cand = sim.ivfpq_ann_topk(
        emb, queries, k=20, n_centroids=4, n_probe=2, m=4, n_codes=8, assign="expr"
    )
    assert sim.exact_rerank(cand, emb, queries, k=5).collect()


def test_repeated_chain_compiles_next_to_nothing(spark):
    _chain(spark, seed=1)
    before = _compiled(spark)
    _chain(spark, seed=2)
    assert _compiled(spark) - before <= MAX_RECOMPILES
