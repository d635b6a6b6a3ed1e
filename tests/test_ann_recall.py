"""Recall@k floors for the approximate-nearest-neighbor paths.

Pins the probing logic: a regression in LSH multiprobe expansion or IVF
cell assignment shows up as a recall drop long before it shows up in a
rows-only oracle check. Floors sit ~0.07 under the measured recalls on the
sf0.01 synthetic embeddings (LSH 0.62, IVF 0.70 per BENCH_r01.json) — that
corpus is near-uniform, ANN's worst case, so these are conservative.

Hyperparameters mirror the showcased queries in
``polars_nexpresso_spark/pipeline_queries.py`` exactly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.similarity import (
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)
from polars_nexpresso_spark.sources.io import read_table

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.01 testdata not present"
)

K = 5
N_QUERIES = 10


def _recall_at_k(exact_df, ann_df) -> float:
    exact = {}
    for r in exact_df.collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann = {}
    for r in ann_df.collect():
        ann.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & ann.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    return hits / total


@pytest.fixture(scope="module")
def emb_and_exact(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, k=K)
    return emb, queries, exact


def test_lsh_ann_recall_floor(emb_and_exact):
    emb, queries, exact = emb_and_exact
    ann = lsh_ann_topk(emb, queries, k=K, num_planes=8, multiprobe=3)
    recall = _recall_at_k(exact, ann)
    assert recall >= 0.55, f"LSH recall@{K} regressed: {recall:.3f} < 0.55"


def test_ivf_ann_recall_floor(emb_and_exact):
    emb, queries, exact = emb_and_exact
    ann = ivf_ann_topk(emb, queries, k=K, n_centroids=16, n_probe=6)
    recall = _recall_at_k(exact, ann)
    assert recall >= 0.60, f"IVF recall@{K} regressed: {recall:.3f} < 0.60"


def _uses_arrow(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().optimizedPlan().toString()


def test_ann_assign_modes_agree(emb_and_exact, force_arrow_assign):
    """Both sides of the corpus-size engine gate — parsed-SQL and
    Arrow-kernel cell assignment — produce the same cells and hence the
    same IVF results."""
    emb, queries, _ = emb_and_exact

    def run():
        df = ivf_ann_topk(emb, queries, k=K, n_centroids=8, n_probe=3)
        return _uses_arrow(df), {tuple(r) for r in df.collect()}

    sql = run()
    force_arrow_assign()
    arrow = run()
    assert (sql[0], arrow[0]) == (False, True)
    assert sql[1] == arrow[1]


def test_assign_engine_follows_planned_corpus_size(
    spark, parquet_copy, force_arrow_assign
):
    """The gate reads Catalyst's size estimate: a small parquet corpus
    plans with no Python stage, the same corpus past the (lowered)
    threshold plans with the Arrow kernel, and a stat-less
    ``createDataFrame`` corpus stays on SQL whatever the threshold."""
    from polars_nexpresso_spark.functions.similarity import embedding_outliers

    local = _clustered_corpus(spark, n_per=10, dim=8)
    parquet = parquet_copy(local)
    assert not _uses_arrow(embedding_outliers(parquet, n_centroids=4))
    force_arrow_assign()
    assert _uses_arrow(embedding_outliers(parquet, n_centroids=4))
    assert not _uses_arrow(embedding_outliers(local, n_centroids=4))


def test_lsh_dim_param_keeps_plan_action_free(spark):
    """With ``dim`` passed, building the LSH plan must run NO Spark job —
    proven by handing it a query frame that throws on any execution: plan
    construction succeeds, while the ``dim=None`` fallback (which probes
    one row) raises immediately."""
    corpus = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias(
            "embedding"
        ),
    )
    boom = corpus.withColumn(
        "embedding",
        F.when(
            F.expr("assert_true(vec_id < 0)").isNull(), F.col("embedding")
        ),
    )
    # plan builds without executing the poisoned frame
    plan = lsh_ann_topk(corpus, boom, k=2, num_planes=4, dim=2)
    assert "query_id" in plan.columns
    with pytest.raises(Exception):
        lsh_ann_topk(corpus, boom, k=2, num_planes=4)  # dim probe executes


def test_lsh_dim_param_matches_probe(emb_and_exact):
    emb, queries, _ = emb_and_exact
    probed = lsh_ann_topk(emb, queries, k=K, num_planes=8, multiprobe=2)
    passed = lsh_ann_topk(emb, queries, k=K, num_planes=8, multiprobe=2, dim=64)
    assert {tuple(r) for r in probed.collect()} == {
        tuple(r) for r in passed.collect()
    }


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Deterministic clustered corpus — the shape real embedding models
    produce (tight clusters, ANN's GOOD case, vs the near-uniform sf0.01
    synthetic corpus which is its worst case)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 20, 100, 32
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        noise = 0.08 * rng.normal(size=(per_cluster, dim))
        for v in centers[ci] + noise:
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = df.repartition(8).cache()
    df.count()
    yield df
    df.unpersist()


def test_ann_recall_on_clustered_corpus(clustered_emb):
    """On clustered data the showcased dials reach recall ≥ 0.9 — the
    documented expectation for production embeddings (the sf0.01 floors
    above are the uniform-corpus worst case)."""
    emb = clustered_emb
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, k=K)

    lsh = lsh_ann_topk(emb, queries, k=K, num_planes=8, multiprobe=3, dim=32)
    lsh_recall = _recall_at_k(exact, lsh)
    assert lsh_recall >= 0.9, f"LSH clustered recall@{K}: {lsh_recall:.3f} < 0.9"

    ivf = ivf_ann_topk(emb, queries, k=K, n_centroids=16, n_probe=6)
    ivf_recall = _recall_at_k(exact, ivf)
    assert ivf_recall >= 0.9, f"IVF clustered recall@{K}: {ivf_recall:.3f} < 0.9"


def _brute_topk(ids, vecs, query_ids, k, exclude_self):
    """float64 NumPy brute force of the cosine_topk contract: per query,
    ``round(<c, q> / (|c|·|q|), 6)`` over every corpus row, ranked by
    (cosine desc, id asc)."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    pos = {v: i for i, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        qv = X[pos[q]]
        cos = np.round(X @ qv / (norms * np.linalg.norm(qv)), 6)
        ranked = sorted(
            (-c, i) for i, c in zip(ids, cos) if not (exclude_self and i == q)
        )[:k]
        for rank, (negc, i) in enumerate(ranked, 1):
            out[(q, rank)] = (i, -negc)
    return out


@pytest.mark.parametrize(
    "k,exclude_self", [(5, True), (5, False), (1000, True)],
    ids=["k5", "k5-with-self", "k-above-corpus"],
)
def test_cosine_topk_matches_numpy_brute_force(spark, k, exclude_self):
    """cosine_topk against a float64 NumPy brute force over a corpus split
    into several Arrow batches: the same ids, ranks and scores. Vectors
    duplicated under other ids tie exactly and must rank by id asc;
    ``exclude_self=False`` returns the query itself; k above the corpus
    size returns the whole corpus."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [
        [float(x) for x in v]
        for v in rng.normal(size=(200, 16)).astype(np.float32)
    ]
    ids = list(range(100, 300))
    # Copies of vectors 103 and 150 under lower and higher ids.
    for dup_id, src in ((5, 103), (400, 103), (7, 150), (900, 150)):
        ids.append(dup_id)
        vecs.append(vecs[src - 100])
    corpus = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    ).repartition(3)
    query_ids = [103, 150, 107]
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(
            corpus,
            corpus.filter(F.col("vec_id").isin(query_ids)),
            k=k,
            exclude_self=exclude_self,
        ).collect()
    }
    assert got == _brute_topk(ids, vecs, query_ids, k, exclude_self)



def test_cosine_topk_query_blocks(spark, monkeypatch):
    """A query set above ``_MAX_QUERIES`` runs as one kernel stage per
    block of queries, and the blocks' candidates union before the one
    top-k window: the same rows as the brute force, for cosine_topk and
    for mine_hard_negatives' per-query exclusion sets."""
    import numpy as np

    from polars_nexpresso_spark.functions import similarity
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    monkeypatch.setattr(similarity, "_MAX_QUERIES", 3)
    rng = np.random.default_rng(11)
    vecs = [
        [float(x) for x in v]
        for v in rng.normal(size=(120, 8)).astype(np.float32)
    ]
    ids = list(range(120))
    corpus = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    ).repartition(3)
    query_ids = list(range(0, 100, 10))  # 10 queries: blocks of 3, 3, 3, 1
    queries = corpus.filter(F.col("vec_id").isin(query_ids))
    out = cosine_topk(corpus, queries, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[-1].count("MapInPandas") == 4
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in out.collect()
    }
    assert got == _brute_topk(ids, vecs, query_ids, 4, True)

    # Each query's positives are its brute-force top-2: the mined
    # negatives are the brute force's ranks 3-5.
    exp = _brute_topk(ids, vecs, query_ids, 5, True)
    positives = spark.createDataFrame(
        [(q, exp[(q, r)][0]) for q in query_ids for r in (1, 2)],
        "query_id long, doc_id long",
    )
    mined = mine_hard_negatives(corpus, queries, positives, k=3).collect()
    assert {(r["query_id"], r["rank"]): r["neighbor_id"] for r in mined} == {
        (q, r - 2): exp[(q, r)][0] for q in query_ids for r in (3, 4, 5)
    }

def test_quantize_embeddings_codes_and_scale(spark):
    from polars_nexpresso_spark.functions.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale = max|x|/127 = 1/127; codes = round(x*127/max|x|)
    assert got[1]["qvec"] == [64, -127, 32]  # round(63.5)=64 (half away)
    assert got[1]["scale"] == pytest.approx(1.0 / 127)
    assert got[2]["qvec"] == [0, 0, 0]
    assert got[2]["scale"] == 0.0


def test_cosine_topk_int8_tracks_float_topk(emb_and_exact):
    """Quantized cosine ranks stay close to float cosine: on the sf
    corpus the int8 top-5 overlaps the exact top-5 heavily (identical
    would be a fluke; near-identical is the design target)."""
    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk_int8,
    )

    emb, queries, exact_df = emb_and_exact
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in exact_df.collect()
    }
    q8 = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_int8(emb, queries, k=5).collect()
    }
    overlap = len(q8 & exact) / len(exact)
    assert overlap >= 0.8


def test_source_mix_weights_hand_computed(spark):
    from polars_nexpresso_spark.functions.sampling import (
        source_mix_weights,
    )

    # a: 6 tokens, b: 2, c: 2 → shares .6/.2/.2; targets .5/.5/0:
    # raw = .5/.6, .5/.2, 0 → max=2.5 → weights (1/3, 1, 0)
    df = spark.createDataFrame(
        [
            (1, "t1 t2 t3", "a"),
            (2, "t4 t5 t6", "a"),
            (3, "t7 t8", "b"),
            (4, "t9 t10", "c"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {
        r["source"]: r
        for r in source_mix_weights(
            df, "text", "source", {"a": 0.5, "b": 0.5}
        ).collect()
    }
    assert got["a"]["n_tokens"] == 6 and got["a"]["token_share"] == 0.6
    assert got["a"]["weight"] == pytest.approx(round(1 / 3, 6))
    assert got["b"]["weight"] == 1.0
    assert got["c"]["target_share"] == 0.0 and got["c"]["weight"] == 0.0


# --- product quantization ----------------------------------------------------


def _clustered_corpus(spark, *, n_per: int, dim: int, n_clusters: int = 5):
    """Small deterministic clustered corpus for the PQ tests (module
    fixture shape, but parameterizable per test)."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        noise = 0.05 * rng.normal(size=(n_per, dim))
        for v in centers[ci] + noise:
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_pq_encode_shapes_and_engine_equivalence(
    spark, parquet_copy, force_arrow_assign
):
    from polars_nexpresso_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
    )

    corpus = parquet_copy(_clustered_corpus(spark, n_per=40, dim=16))
    cbs = pq_codebooks(corpus, m=4, n_codes=8)
    assert len(cbs) == 4 and all(len(cb) == 8 for cb in cbs)
    assert all(len(cw) == 4 for cb in cbs for cw in cb)

    def codes():
        df = pq_encode(corpus, cbs)
        return _uses_arrow(df), {r["vec_id"]: list(r["codes"]) for r in df.collect()}

    sql = codes()
    force_arrow_assign()
    arrow = codes()
    assert (sql[0], arrow[0]) == (False, True)
    assert sql[1] == arrow[1]
    assert all(
        len(c) == 4 and all(0 <= x < 8 for x in c) for c in sql[1].values()
    )


def test_pq_ann_cluster_precision_on_clustered_corpus(spark):
    """What PQ preserves is COARSE structure: inside a tight cluster the
    codes collapse to the same codewords (ADC ties resolve by id), so
    the honest bar is cluster-level precision — every approximate
    neighbor must come from the query's own cluster — not exact-id
    top-5 recall (that is the quantization error the docstring
    documents; compose with exact re-rank when ids matter)."""
    from collections import Counter

    from polars_nexpresso_spark.functions.similarity import pq_ann_topk

    corpus = _clustered_corpus(spark, n_per=40, dim=16)
    queries = corpus.filter((F.col("vec_id") % 40) < 2)
    approx = pq_ann_topk(corpus, queries, k=5, m=4, n_codes=16)
    rows = approx.collect()
    for r in rows:
        assert r["query_id"] // 40 == r["neighbor_id"] // 40, (
            r["query_id"], r["neighbor_id"],
        )
    # per-query exactly k rows
    per_q = Counter(r["query_id"] for r in rows)
    assert all(v == 5 for v in per_q.values())
    assert len(per_q) == queries.count()


def test_pq_ann_deterministic_across_layouts(spark):
    from polars_nexpresso_spark.functions.similarity import pq_ann_topk

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 2)
    a = sorted(
        map(tuple, pq_ann_topk(corpus, queries, k=3, m=4).collect())
    )
    b = sorted(
        map(
            tuple,
            pq_ann_topk(corpus.repartition(9), queries, k=3, m=4).collect(),
        )
    )
    assert a == b


def test_pq_validation(spark):
    from polars_nexpresso_spark.functions.similarity import pq_codebooks

    corpus = _clustered_corpus(spark, n_per=10, dim=10)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(corpus, m=4, n_codes=4)


def test_ivfpq_cluster_precision_and_engine_equivalence(
    spark, parquet_copy, force_arrow_assign
):
    """The composed index keeps PQ's cluster-level precision (candidates
    can only come from probed IVF cells, and ADC ties resolve by id
    inside the query's own tight cluster), and both sides of the
    corpus-size engine gate agree row-for-row."""
    from collections import Counter

    from polars_nexpresso_spark.functions.similarity import ivfpq_ann_topk

    corpus = parquet_copy(_clustered_corpus(spark, n_per=40, dim=16))
    queries = corpus.filter((F.col("vec_id") % 40) < 2)
    kwargs = dict(k=5, n_centroids=8, n_probe=3, m=4, n_codes=16)

    def run():
        df = ivfpq_ann_topk(corpus, queries, **kwargs)
        return _uses_arrow(df), sorted(map(tuple, df.collect()))

    sql = run()
    for r in sql[1]:
        assert r[0] // 40 == r[1] // 40, r
    per_q = Counter(r[0] for r in sql[1])
    assert all(v == 5 for v in per_q.values())
    assert len(per_q) == queries.count()

    force_arrow_assign()
    arrow = run()
    assert (sql[0], arrow[0]) == (False, True)
    assert sql[1] == arrow[1]


def test_ivfpq_candidates_bounded_by_probed_cells(spark):
    """Every (query, neighbor) the composed index scores shares a probed
    IVF cell — the candidate bound that makes the join touch
    ~n_probe/n_centroids of the corpus instead of all of it. Cells are
    re-derived here in numpy (nearest centroids, ties to the lowest
    index)."""
    import numpy as np

    from polars_nexpresso_spark.functions.similarity import (
        _kmeans_centroids,
        ivfpq_ann_topk,
    )

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 3)
    res = ivfpq_ann_topk(
        corpus, queries, k=50, n_centroids=8, n_probe=2, m=4, n_codes=16,
        exclude_self=False,
    ).collect()
    cents = np.asarray(_kmeans_centroids(corpus, "vec_id", "embedding", 8))
    rows = corpus.collect()
    ids = [r["vec_id"] for r in rows]
    vecs = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    ranked = np.argsort(
        ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1),
        axis=1,
        kind="stable",
    )
    corpus_cell = dict(zip(ids, ranked[:, 0]))
    probe = {i: set(ranked[j, :2]) for j, i in enumerate(ids) if i < 3}
    assert res, "composed index returned no candidates"
    for r in res:
        assert corpus_cell[r["neighbor_id"]] in probe[r["query_id"]], (
            r["query_id"], r["neighbor_id"],
        )


def test_exact_rerank_restores_exact_order(spark):
    """Feeding the exact top-10 back as a candidate table must
    reproduce exact top-5 row-for-row — same rounding, same
    (cosine desc, id asc) tie-break: the re-rank stage adds no
    approximation of its own."""
    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk,
        exact_rerank,
    )

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 3)
    exact10 = cosine_topk(corpus, queries, k=10)
    rr = exact_rerank(exact10, corpus, queries, k=5)
    exact5 = cosine_topk(corpus, queries, k=5)
    assert sorted(map(tuple, rr.collect())) == sorted(
        map(tuple, exact5.collect())
    )


def test_exact_rerank_lifts_ivfpq_to_exact_ids(emb_and_exact):
    """The two-stage cascade on the real sf corpus at the registry dial
    (residual IVF+PQ, 60-candidate over-fetch — the r11 recall fix):
    exact re-rank restores true ordering among the compressed
    candidates — recall@5 must beat the raw quantized top-5 and clear
    the floor. (This corpus is near-uniform — ANN's worst case, where
    residual encoding costs ~one over-fetch step because the coarse
    centroids are weak; on the clustered bench corpus the same dial
    measures 0.84, `ann_recall_at_k`.)"""
    from polars_nexpresso_spark.functions.similarity import (
        exact_rerank,
        ivfpq_ann_topk,
    )

    emb, queries, exact = emb_and_exact
    cand = ivfpq_ann_topk(
        emb, queries, k=60, n_centroids=16, n_probe=6, m=8, n_codes=16
    )
    rr = exact_rerank(cand, emb, queries, k=K)
    raw = ivfpq_ann_topk(
        emb, queries, k=K, n_centroids=16, n_probe=6, m=8, n_codes=16
    )
    r_rr = _recall_at_k(exact, rr)
    r_raw = _recall_at_k(exact, raw)
    assert r_rr >= r_raw, (r_rr, r_raw)
    assert r_rr >= 0.60, f"reranked recall@{K} regressed: {r_rr:.3f}"


def test_exact_rerank_plan_never_shuffles_the_corpus(spark):
    """Both joins must be broadcast-hash (candidates and query vectors
    are small by construction); a sort-merge join or cartesian product
    here would shuffle the corpus and defeat the pattern."""
    from polars_nexpresso_spark.functions.similarity import (
        exact_rerank,
        ivfpq_ann_topk,
    )

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 3)
    cand = ivfpq_ann_topk(
        corpus, queries, k=10, n_centroids=8, n_probe=2, m=4, n_codes=8
    )
    plan = (
        exact_rerank(cand, corpus, queries, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ivfpq_trainings_share_one_sample_collect(spark, monkeypatch):
    """r14: the coarse-quantizer and PQ-codebook trainings consume ONE
    shared md5-ordered sample — both ask, but only one corpus
    TakeOrdered+collect runs (the second request memo-hits the same
    key), halving the cold-JVM training passes of every ivfpq
    constructor. A repeat call trains nothing and reuses the index."""
    from polars_nexpresso_spark.functions import similarity as S

    from polars_nexpresso_spark.functions._caching import release_tracked_caches

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 3)
    S._SAMPLE_MEMO.clear()
    S._CENTROID_MEMO.clear()
    release_tracked_caches()
    asks, trains = [], []
    orig, orig_train = S._training_sample, S._pq_train_sample

    def counting(*args, **kwargs):
        asks.append(args[3:])  # (sample_size, seed)
        return orig(*args, **kwargs)

    def training(*args, **kwargs):
        trains.append(kwargs["m"])
        return orig_train(*args, **kwargs)

    monkeypatch.setattr(S, "_training_sample", counting)
    monkeypatch.setattr(S, "_pq_train_sample", training)
    for _ in range(2):
        S.ivfpq_ann_topk(
            corpus, queries, k=5, n_centroids=8, n_probe=2, m=4, n_codes=8
        )
    assert len(asks) == 2  # coarse + PQ both request the sample, once
    assert len(S._SAMPLE_MEMO) == 1  # one key -> one collect fed both
    # The repeat call reuses the codebooks (next to the centroids) and
    # the persisted (id, cell, codes) index: no second PQ training.
    assert trains == [4]
    assert len(S._CENTROID_MEMO) == 2
    assert len(S._INDEX_MEMO) == 1
    release_tracked_caches()
    assert not S._INDEX_MEMO


def test_ann_recall_table_counts_hits(spark):
    """Hand-built tables: known hit counts, duplicate approx pairs
    dedupe, queries with zero hits keep a row with recall 0."""
    from polars_nexpresso_spark.functions.similarity import (
        ann_recall_table,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: hits 10,11 (11 duplicated); q2: miss; q3: hit + noise
        [(1, 10), (1, 11), (1, 11), (1, 99), (2, 99), (3, 30), (3, 31)],
        "query_id long, neighbor_id long",
    )
    rows = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in ann_recall_table(approx, exact).collect()
    }
    assert rows == {
        1: (3, 2, round(2 / 3, 6)),
        2: (2, 0, 0.0),
        3: (1, 1, 1.0),
    }


def test_ann_recall_table_dedupes_exact_side_too(spark):
    """Duplicate (query_id, neighbor_id) rows in EXACT must not inflate
    n_exact and understate recall (round-7 advisory)."""
    from polars_nexpresso_spark.functions.similarity import (
        ann_recall_table,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11)],  # pair (1,10) duplicated
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10)], "query_id long, neighbor_id long"
    )
    [row] = ann_recall_table(approx, exact).collect()
    assert (row["n_exact"], row["n_hit"], row["recall"]) == (2, 1, 0.5)


def test_ann_recall_table_matches_driver_side_recall(emb_and_exact):
    """The distributed recall equals the collect()-based recall the
    bench computes, on the real corpus against the LSH engine."""
    from polars_nexpresso_spark.functions.similarity import (
        ann_recall_table,
        lsh_ann_topk,
    )

    emb, queries, exact = emb_and_exact
    ann = lsh_ann_topk(emb, queries, k=K, num_planes=8, multiprobe=3)
    driver_recall = _recall_at_k(exact, ann)
    rows = ann_recall_table(ann, exact).collect()
    dist_recall = sum(r["n_hit"] for r in rows) / sum(
        r["n_exact"] for r in rows
    )
    assert abs(dist_recall - driver_recall) < 1e-9


def test_ivfpq_deterministic_across_layouts(spark):
    from polars_nexpresso_spark.functions.similarity import ivfpq_ann_topk

    corpus = _clustered_corpus(spark, n_per=30, dim=16)
    queries = corpus.filter(F.col("vec_id") < 2)
    kwargs = dict(k=3, n_centroids=8, n_probe=3, m=4, n_codes=8)
    a = sorted(map(tuple, ivfpq_ann_topk(corpus, queries, **kwargs).collect()))
    b = sorted(
        map(
            tuple,
            ivfpq_ann_topk(corpus.repartition(9), queries, **kwargs).collect(),
        )
    )
    assert a == b


def test_hard_negatives_ivfpq_overlaps_exact_mining(spark):
    """r10 verdict item 4 follow-up: hard negatives mined through the
    residual IVF+PQ index must substantially agree with exact-cosine
    mining — mining "hard" negatives from an index that misses most
    true neighbors yields easy ones. Measured post-fix on the sf
    corpora: 0.64-0.68 pair overlap (pre-residual the raw index's
    recall@5 was 0.14); floor pinned loosely to catch a collapse, not
    host noise."""
    from polars_nexpresso_spark.pipeline_queries import PIPELINE_QUERIES

    sf = "/root/testdata/sf0.001"
    ex = {
        (r["query_id"], r["neighbor_id"])
        for r in PIPELINE_QUERIES["hard_negatives"](spark, sf).collect()
    }
    ap = {
        (r["query_id"], r["neighbor_id"])
        for r in PIPELINE_QUERIES["hard_negatives_ivfpq"](
            spark, sf
        ).collect()
    }
    assert len(ex) > 0 and len(ap) > 0
    overlap = len(ex & ap) / len(ex)
    assert overlap >= 0.5, f"ivfpq hard-negative overlap collapsed: {overlap:.3f}"
