"""Round-8 additions: embedding-space outlier gate and the dedup-ladder
pair recall/precision eval."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.dedup import dedup_pair_recall
from polars_nexpresso_spark.functions.similarity import embedding_outliers


# ---------------------------------------------------------------- outliers


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_outliers_flags_the_far_vector(spark):
    """20 identical vectors + 1 far vector, k=1: the centroid is the
    sample mean, the far vector's distance z-score is high, the copies'
    negative — only the far one is flagged."""
    rows = [(i, [0.0, 0.0]) for i in range(20)] + [(99, [10.0, 0.0])]
    out = {
        r["vec_id"]: r
        for r in embedding_outliers(
            _corpus(spark, rows), n_centroids=1, z_threshold=2.0
        ).collect()
    }
    assert len(out) == 21
    assert out[99]["is_outlier"] is True
    assert all(not out[i]["is_outlier"] for i in range(20))
    assert out[99]["dist_z"] > 2.0 > out[0]["dist_z"]
    assert all(r["cell"] == 0 for r in out.values())


def test_embedding_outliers_zscore_invariants(spark):
    """Mean of z-scores ~0 by construction; flag == (z > threshold);
    every vector labeled with a valid cell."""
    rows = [
        (i, [float(i % 7), float((3 * i) % 5), float(i % 2)])
        for i in range(60)
    ]
    got = embedding_outliers(
        _corpus(spark, rows), n_centroids=4, z_threshold=1.5
    ).collect()
    assert len(got) == 60
    zs = [r["dist_z"] for r in got]
    assert abs(sum(zs) / len(zs)) < 1e-3
    for r in got:
        assert 0 <= r["cell"] < 4
        assert r["is_outlier"] == (r["dist_z"] > 1.5)


def test_embedding_outliers_identical_corpus_null_z(spark):
    """All-equal distances have zero stddev: z is NULL (explicitly, not
    a division error) and nothing is flagged true."""
    rows = [(i, [1.0, 2.0]) for i in range(8)]
    got = embedding_outliers(_corpus(spark, rows), n_centroids=1).collect()
    assert all(r["dist_z"] is None for r in got)
    assert all(not r["is_outlier"] for r in got)


def test_embedding_outliers_validation_and_plan(spark):
    rows = [(i, [float(i), 0.0]) for i in range(10)]
    df = _corpus(spark, rows)
    with pytest.raises(ValueError, match="n_centroids"):
        embedding_outliers(df, n_centroids=0)
    with pytest.raises(ValueError, match="not both"):
        embedding_outliers(df, vec_col="missing")
    out = embedding_outliers(df, n_centroids=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    # the stats scalars broadcast back; the vectors never ride a shuffle
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding#" not in line, (
                f"vectors rode a shuffle: {line}"
            )


# ------------------------------------------------------------- pair recall


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_dedup_pair_recall_hand_counts(spark):
    """Reversed and duplicated candidate pairs canonicalize + dedup, so
    they cannot inflate precision; hits count pairs in both sets."""
    truth = _pairs(spark, [(1, 2), (3, 4), (5, 6)])
    cand = _pairs(spark, [(2, 1), (3, 4), (3, 4), (7, 8)])
    row = dedup_pair_recall(truth, cand).collect()[0]
    assert (row["n_true"], row["n_candidates"], row["n_hits"]) == (3, 3, 2)
    assert row["pair_recall"] == 0.666666667
    assert row["pair_precision"] == 0.666666667


def test_dedup_pair_recall_empty_sides_are_null_not_error(spark):
    truth = _pairs(spark, [(1, 2)])
    empty = _pairs(spark, []).filter("id_a IS NOT NULL")
    row = dedup_pair_recall(truth, empty).collect()[0]
    assert (row["n_true"], row["n_candidates"], row["n_hits"]) == (1, 0, 0)
    assert row["pair_recall"] == 0.0
    assert row["pair_precision"] is None
    row2 = dedup_pair_recall(empty, truth).collect()[0]
    assert row2["pair_recall"] is None
    assert row2["pair_precision"] == 0.0


def test_dedup_pair_recall_perfect_candidates(spark):
    truth = _pairs(spark, [(1, 2), (3, 4)])
    row = dedup_pair_recall(truth, truth).collect()[0]
    assert row["pair_recall"] == 1.0 and row["pair_precision"] == 1.0


def test_dedup_pair_recall_validation(spark):
    bad = spark.createDataFrame([(1,)], "x long")
    good = _pairs(spark, [(1, 2)])
    with pytest.raises(ValueError, match="id_a/id_b"):
        dedup_pair_recall(bad, good)


def test_embedding_outliers_pandas_expr_equivalence(
    spark, parquet_copy, force_arrow_assign
):
    """Both sides of the corpus-size engine gate — parsed SQL and the
    Arrow kernel — agree row-for-row: cell election (ties to lowest
    index) and the rounded distances."""
    rows = [
        (i, [float((7 * i) % 11) / 3, float((5 * i) % 13) / 4, 0.25 * i % 2])
        for i in range(80)
    ]
    df = parquet_copy(_corpus(spark, rows))

    def run():
        return {
            r["vec_id"]: (r["cell"], r["centroid_dist"], r["dist_z"])
            for r in embedding_outliers(df, n_centroids=5).collect()
        }

    a = run()
    force_arrow_assign()
    assert run() == a


# ----------------------------------------------------------- cluster purity


def test_cluster_purity_hand_labels(spark):
    """Two well-separated blobs, labels mostly aligned: purity reflects
    the minority contamination; majority ties break to the smaller
    label."""
    from polars_nexpresso_spark.functions.similarity import cluster_purity

    rows = (
        [(i, [0.0 + 0.01 * i, 0.0], 1) for i in range(8)]
        + [(8, [0.02, 0.0], 2)]                      # minority in blob A
        + [(10 + i, [50.0, 50.0 + 0.01 * i], 2) for i in range(9)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["majority_label"]: r
        for r in cluster_purity(df, n_centroids=2).collect()
    }
    a, b = got[1], got[2]
    assert a["n"] == 9 and a["n_majority"] == 8
    assert a["purity"] == pytest.approx(round(8 / 9, 9), abs=1e-9)
    assert b["n"] == 9 and b["purity"] == 1.0


def test_cluster_purity_tie_breaks_to_smaller_label(spark):
    from polars_nexpresso_spark.functions.similarity import cluster_purity

    rows = [(i, [1.0, 1.0], 5 - (i % 2) * 2) for i in range(8)]  # labels 3,5
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = cluster_purity(df, n_centroids=1).collect()
    assert len(got) == 1
    assert got[0]["majority_label"] == 3 and got[0]["purity"] == 0.5


def test_cluster_purity_engines_agree_and_validate(
    spark, parquet_copy, force_arrow_assign
):
    from polars_nexpresso_spark.functions.similarity import cluster_purity

    rows = [
        (i, [float(i % 5), float((3 * i) % 7)], i % 3) for i in range(60)
    ]
    df = parquet_copy(spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ))
    a = sorted(map(tuple, cluster_purity(df, n_centroids=4).collect()))
    force_arrow_assign()
    b = sorted(map(tuple, cluster_purity(df, n_centroids=4).collect()))
    assert a == b
    with pytest.raises(ValueError, match="not in"):
        cluster_purity(df, label_col="missing")


# ------------------------------------------------------- round-9: knn_label


def test_knn_label_majority_vote_and_ties(spark):
    """Three tight clusters with known labels; a query inside each
    cluster takes that cluster's label. Vote ties break label-asc."""
    from polars_nexpresso_spark.functions.similarity import knn_label

    labeled_rows = (
        [(i, [1.0, 0.0], 0) for i in range(3)]
        + [(10 + i, [0.0, 1.0], 1) for i in range(3)]
        + [(20 + i, [-1.0, 0.0], 2) for i in range(3)]
    )
    labeled = spark.createDataFrame(
        labeled_rows, "vec_id long, embedding array<float>, label int"
    )
    queries = spark.createDataFrame(
        [(100, [0.9, 0.1]), (101, [0.1, 0.9]), (102, [-0.9, -0.1])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["label"], r["n_votes"], r["vote_frac"])
        for r in knn_label(labeled, queries, k=3).collect()
    }
    assert out[100] == (0, 3, pytest.approx(1.0))
    assert out[101] == (1, 3, pytest.approx(1.0))
    assert out[102] == (2, 3, pytest.approx(1.0))
    # k=2 straddling two clusters equally -> tie -> smaller label wins
    mid = spark.createDataFrame(
        [(200, [0.7071, 0.7071])], "vec_id long, embedding array<float>"
    )
    two = spark.createDataFrame(
        [(1, [1.0, 0.0], 5), (2, [0.0, 1.0], 3)],
        "vec_id long, embedding array<float>, label int",
    )
    row = knn_label(two, mid, k=2).collect()[0]
    assert row["label"] == 3 and row["n_votes"] == 1
    assert row["vote_frac"] == pytest.approx(0.5)
    with pytest.raises(ValueError, match="k must"):
        knn_label(two, mid, k=0)
    with pytest.raises(ValueError, match="label"):
        knn_label(mid, mid, k=1)


def test_knn_label_corpus_never_shuffles(spark):
    """cosine_topk's scale contract survives the label join: the
    k-bounded neighbor rows broadcast into the label lookup, so the
    labeled corpus streams unshuffled."""
    from polars_nexpresso_spark.functions.similarity import knn_label

    labeled = spark.createDataFrame(
        [(i, [float(i % 7), 1.0], i % 3) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    def walk(node):
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    def names(node):
        return [n.nodeName() for n in walk(node)]

    plan = knn_label(labeled, queries, k=3)._jdf.queryExecution().executedPlan()
    plan = getattr(plan, "executedPlan", lambda: plan)()  # AQE's current plan
    joins = [n for n in walk(plan) if n.nodeName() == "BroadcastHashJoin"]
    assert len(joins) == 1, names(plan)
    join = joins[0]
    build = 0 if join.buildSide().toString() == "BuildLeft" else 1
    nn_side = join.children().apply(build)
    corpus_side = join.children().apply(1 - build)
    # The broadcast side is cosine_topk's output: the kernel stage sits
    # under the BroadcastExchange.
    assert names(nn_side)[0] == "BroadcastExchange", names(nn_side)
    assert "MapInPandas" in names(nn_side)
    # The labeled corpus reaches the join with no Exchange above its scan.
    assert not any("Exchange" in n for n in names(corpus_side)), names(
        corpus_side
    )
    assert "CartesianProduct" not in names(plan)


# ------------------------------------------------- round-9: diversity_sample


def test_diversity_sample_caps_dense_cells_keeps_rare(spark):
    """A dense cluster of 50 and a rare cluster of 3, k=2, per_cell=5:
    the dense cell shrinks to 5, the rare cell survives whole, and
    WHICH dense rows survive is the md5-hash order (deterministic
    across partitionings)."""
    from polars_nexpresso_spark.functions.similarity import (
        diversity_sample,
    )

    rows = [(i, [10.0, 10.0]) for i in range(50)] + [
        (100 + i, [-10.0, -10.0]) for i in range(3)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = diversity_sample(
        emb, n_centroids=2, per_cell=5
    ).collect()
    by_cell: dict[int, set] = {}
    for r in out:
        by_cell.setdefault(r["cell"], set()).add(r["vec_id"])
    sizes = sorted(len(v) for v in by_cell.values())
    assert sizes == [3, 5]
    rare = next(v for v in by_cell.values() if len(v) == 3)
    assert rare == {100, 101, 102}
    # determinism: a different partitioning keeps the same survivors
    out2 = diversity_sample(
        emb.repartition(7), n_centroids=2, per_cell=5
    ).collect()
    assert {r["vec_id"] for r in out2} == {r["vec_id"] for r in out}
    with pytest.raises(ValueError, match="per_cell"):
        diversity_sample(emb, n_centroids=2, per_cell=0)


# ---------------------------------------------------------- round-9: MMR


def test_mmr_rerank_diversifies_near_duplicate_results(spark):
    """Two near-identical highly-relevant vectors + one distinct
    moderately-relevant vector: pure relevance keeps both copies first;
    MMR at lam=0.5 picks one copy, then the DISTINCT vector — the
    defining behavior."""
    from polars_nexpresso_spark.functions.similarity import mmr_rerank

    cands = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),       # relevant
            (2, [0.999, 0.001]),   # near-copy of 1, hair more relevant
            (3, [0.0, 1.0]),       # orthogonal, moderately relevant
        ],
        "vec_id long, embedding array<float>",
    )
    order = [
        r["vec_id"]
        for r in mmr_rerank(cands, [0.8, 0.6], k=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert order[0] == 2          # top relevance first
    assert order[1] == 3          # diversity beats the near-copy of 2
    assert order[2] == 1
    # lam=1 reduces to pure relevance order
    rel_order = [
        r["vec_id"]
        for r in mmr_rerank(cands, [0.8, 0.6], k=3, lam=1.0)
        .orderBy("rank")
        .collect()
    ]
    assert rel_order == [2, 1, 3]


def test_mmr_rerank_contracts(spark):
    from polars_nexpresso_spark.functions.similarity import mmr_rerank

    cands = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    # first pick's score is lam * cos(query, d); ranks are 1..k
    out = mmr_rerank(cands, [0.0, 1.0], k=2, lam=0.7).orderBy("rank").collect()
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["mmr_score"] == pytest.approx(0.7, abs=1e-6)
    # k > n truncates to n
    assert mmr_rerank(cands, [0.0, 1.0], k=99).count() == 5
    # determinism across partitionings
    a = [(r["vec_id"], r["rank"]) for r in
         mmr_rerank(cands, [0.3, 0.7], k=5).orderBy("rank").collect()]
    b = [(r["vec_id"], r["rank"]) for r in
         mmr_rerank(cands.repartition(4), [0.3, 0.7], k=5)
         .orderBy("rank").collect()]
    assert a == b
    with pytest.raises(ValueError, match="max_candidates"):
        mmr_rerank(cands, [0.0, 1.0], k=2, max_candidates=3)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(cands, [0.0, 1.0], k=2, lam=1.5)
    with pytest.raises(ValueError, match="k must"):
        mmr_rerank(cands, [0.0, 1.0], k=0)


def test_mmr_rerank_id_dtypes(spark):
    """String ids flow through with their dtype; unsupported id dtypes
    (double) fail fast with a clear message instead of an opaque numpy
    error — the round-9 ADVICE contract."""
    from polars_nexpresso_spark.functions.similarity import mmr_rerank

    str_cands = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = mmr_rerank(str_cands, [1.0, 0.0], k=3, lam=1.0).orderBy("rank")
    assert dict(out.dtypes)["vec_id"] == "string"
    picks = [r["vec_id"] for r in out.collect()]
    assert picks[0] == "a"  # equal relevance: id-asc tie-break, strings
    bad = spark.createDataFrame(
        [(1.5, [1.0, 0.0])], "vec_id double, embedding array<float>"
    )
    with pytest.raises(ValueError, match="integral or string"):
        mmr_rerank(bad, [1.0, 0.0], k=1)


def test_mmr_rerank_by_query_matches_driver_kernel(spark):
    """Batch==driver-kernel parity: mmr_rerank_by_query over a
    many-query candidate table returns, for EVERY query, exactly the
    rows the driver-side mmr_rerank produces on that query's shortlist
    alone — the engine-equality pin that makes the distributed variant
    a drop-in for the loop-over-queries pattern."""
    import random

    from polars_nexpresso_spark.functions.similarity import (
        mmr_rerank,
        mmr_rerank_by_query,
    )

    rng = random.Random(7)
    qvecs = {q: [rng.uniform(-1, 1) for _ in range(4)] for q in range(6)}
    cand_rows = [
        (q, i, [rng.uniform(-1, 1) for _ in range(4)])
        for q in qvecs
        for i in range(rng.randint(1, 12))
    ]
    cands = spark.createDataFrame(
        cand_rows, "query_id long, vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(q, v) for q, v in qvecs.items()],
        "query_id long, embedding array<float>",
    )
    grouped = (
        mmr_rerank_by_query(cands, queries, k=5, lam=0.4)
        .orderBy("query_id", "rank")
        .collect()
    )
    # feed the driver path the SAME float32-truncated query vectors the
    # grouped path reads back from the array<float> column
    stored_qvecs = {
        r["query_id"]: r["embedding"] for r in queries.collect()
    }
    expected = []
    for q in sorted(qvecs):
        solo = mmr_rerank(
            cands.filter(F.col("query_id") == q),
            stored_qvecs[q],
            k=5,
            lam=0.4,
        )
        expected += [
            (q, r["vec_id"], r["mmr_score"], r["rank"])
            for r in solo.orderBy("rank").collect()
        ]
    got = [
        (r["query_id"], r["vec_id"], r["mmr_score"], r["rank"])
        for r in grouped
    ]
    assert got == expected


def test_mmr_rerank_by_query_contracts(spark):
    from polars_nexpresso_spark.functions.similarity import (
        mmr_rerank_by_query,
    )

    cands = spark.createDataFrame(
        [(1, i, [float(i), 1.0]) for i in range(5)],
        "query_id long, vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0])],
        "query_id long, embedding array<float>",
    )
    # query 2 has no candidates: no output rows for it, no error
    out = mmr_rerank_by_query(cands, queries, k=3).collect()
    assert {r["query_id"] for r in out} == {1}
    assert sorted(r["rank"] for r in out) == [1, 2, 3]
    # per-query bound enforced inside the task
    import py4j.protocol

    with pytest.raises(
        (py4j.protocol.Py4JJavaError, Exception),
        match="max_candidates_per_query",
    ):
        mmr_rerank_by_query(
            cands, queries, k=2, max_candidates_per_query=3
        ).collect()
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank_by_query(cands, queries, k=2, lam=-0.1)
    with pytest.raises(ValueError, match="not in queries"):
        mmr_rerank_by_query(cands, queries.drop("embedding"), k=2)


# ----------------------------------------------------- round-9: drift


def test_embedding_drift_detects_a_moved_label(spark):
    """Label 0 is identical in both slices (cosine 1, shift 0); label 1
    rotates 90 degrees between slices (cosine 0, shift > 0); a label
    present in only one slice is dropped."""
    from polars_nexpresso_spark.functions.similarity import (
        embedding_drift,
    )

    a = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),
         (3, [1.0, 0.0], 1), (4, [0.0, 2.0], 7)],
        "vec_id long, embedding array<float>, label int",
    )
    b = spark.createDataFrame(
        [(11, [1.0, 0.0], 0),
         (13, [0.0, 1.0], 1), (14, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in embedding_drift(a, b, dim=2).collect()}
    assert set(out) == {0, 1}  # label 7 only in a -> dropped
    assert out[0]["n_a"] == 2 and out[0]["n_b"] == 1
    assert out[0]["centroid_cosine"] == pytest.approx(1.0)
    assert out[0]["centroid_shift"] == pytest.approx(0.0)
    assert out[1]["centroid_cosine"] == pytest.approx(0.0)
    assert out[1]["centroid_shift"] == pytest.approx(2 ** 0.5, rel=1e-5)
    # zero-vector centroid -> NULL cosine, shift still defined
    za = spark.createDataFrame(
        [(1, [0.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    zb = spark.createDataFrame(
        [(2, [3.0, 4.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    row = embedding_drift(za, zb, dim=2).collect()[0]
    assert row["centroid_cosine"] is None
    assert row["centroid_shift"] == pytest.approx(5.0)


def test_knn_label_ivf_engine_agrees_on_clean_clusters(spark):
    """On well-separated clusters the IVF engine reaches the exact
    engine's predictions (candidates may differ; the vote agrees) —
    and an unknown engine fails fast."""
    from polars_nexpresso_spark.functions.similarity import knn_label

    labeled_rows = (
        [(i, [1.0 + 0.001 * i, 0.0], 0) for i in range(6)]
        + [(10 + i, [0.0, 1.0 + 0.001 * i], 1) for i in range(6)]
    )
    labeled = spark.createDataFrame(
        labeled_rows, "vec_id long, embedding array<float>, label int"
    )
    queries = spark.createDataFrame(
        [(100, [0.95, 0.05]), (101, [0.05, 0.95])],
        "vec_id long, embedding array<float>",
    )
    exact = {
        r["vec_id"]: r["label"]
        for r in knn_label(labeled, queries, k=3).collect()
    }
    ann = {
        r["vec_id"]: r["label"]
        for r in knn_label(
            labeled, queries, k=3, engine="ivf", n_centroids=2, n_probe=1
        ).collect()
    }
    assert exact == ann == {100: 0, 101: 1}
    with pytest.raises(ValueError, match="engine"):
        knn_label(labeled, queries, engine="bogus")


# -------------------------------------------------- round-10: MMR eval


def test_intra_list_similarity_contracts(spark):
    """Hand-checkable lists: a list of two identical vectors scores
    cosine 1.0, orthogonal pair 0.0, singleton list NULL (0 pairs),
    and pair counts are k-choose-2."""
    from polars_nexpresso_spark.functions.similarity import (
        intra_list_similarity,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    ranked = spark.createDataFrame(
        [(10, 1), (10, 2),            # identical pair -> 1.0
         (20, 1), (20, 3),            # orthogonal pair -> 0.0
         (30, 1),                      # singleton -> NULL
         (40, 1), (40, 2), (40, 3)],   # 3 items -> 3 pairs
        "query_id long, vec_id long",
    )
    out = {r["query_id"]: r
           for r in intra_list_similarity(ranked, vecs).collect()}
    assert out[10]["mean_pairwise_cosine"] == 1.0
    assert out[20]["mean_pairwise_cosine"] == 0.0
    assert out[30]["n_pairs"] == 0
    assert out[30]["mean_pairwise_cosine"] is None
    assert out[40]["n_items"] == 3 and out[40]["n_pairs"] == 3
    assert out[40]["mean_pairwise_cosine"] == pytest.approx(
        (1.0 + 0.0 + 0.0) / 3, abs=1e-9
    )
    with pytest.raises(ValueError, match="not in vectors"):
        intra_list_similarity(ranked, vecs.drop("embedding"))


def test_mmr_reduces_intra_list_similarity_on_real_data(spark):
    """The diversification claim, pinned on the real sf0.001 registry
    query: MMR's intra-list similarity is <= the plain top-k's for
    EVERY query (and strictly lower on average)."""
    import __spark_entry__ as em

    df = em.queries()["mmr_diversity_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(df) > 0
    assert all(r["mmr_mean_cos"] <= r["topk_mean_cos"] for r in df)
    import statistics

    assert statistics.mean(r["mmr_mean_cos"] for r in df) < statistics.mean(
        r["topk_mean_cos"] for r in df
    )


def test_mmr_diversity_claim_on_composed_retrieval_path(spark):
    """The ≤-per-query diversity claim pinned on the COMPOSED
    production path (r10 verdict item 6): IVF shortlists →
    mmr_rerank_by_query → intra_list_similarity. mmr_per_query
    synthesizes its shortlists from exact cosine; this runs the real
    three-stage cascade and MMR must still sit at or below the plain
    relevance top-8 for every query (strictly lower on average)."""
    import __spark_entry__ as em

    rows = em.queries()["mmr_retrieval_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    assert all(r["mmr_mean_cos"] <= r["topk_mean_cos"] for r in rows)
    import statistics

    assert statistics.mean(
        r["mmr_mean_cos"] for r in rows
    ) < statistics.mean(r["topk_mean_cos"] for r in rows)
