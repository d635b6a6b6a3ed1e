"""Tests for the pipeline-extension operators: text analysis, dedup,
similarity, multimodal plumbing."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from polars_nexpresso_spark.functions.multimodal import (
    attach_media_meta,
    extract_features,
    sample_frames,
)
from polars_nexpresso_spark.functions.similarity import cosine_topk, lsh_ann_topk
from polars_nexpresso_spark.functions.text import (
    doc_fingerprint,
    language_id,
    simhash60,
    token_count,
    word_ngrams,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely unrelated content here now"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert got[1] == 9
    assert got[5] == 0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO   WORLD ")],
        ["id", "t"],
    )
    fps = [r["fp"] for r in df.select(doc_fingerprint(F.col("t")).alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the fast dog and the slow cat"),
            (2, "el perro y la casa de que una"),
            (3, "der hund und die katze das ein"),
            (4, "zzz qqq xxx"),
        ],
        ["id", "t"],
    )
    got = {r["id"]: r["lang"] for r in df.select("id", language_id(F.col("t")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "und"


def test_exact_dedup(docs):
    result = exact_dedup(docs, "text", "doc_id")
    rows = {r["keep_id"]: r["dup_count"] for r in result.collect()}
    assert rows[1] == 2  # docs 1 and 4 identical
    assert result.count() == 4  # 5 docs → 4 distinct fingerprints


def test_robust_dedup_merges_counter_variants(spark):
    """The canonical-fingerprint rung: pages identical up to digits /
    punctuation (timestamps, view counters, ids, prices) merge into one
    cluster, while genuinely different text and NULLs keep the
    exact-dedup conventions."""
    from polars_nexpresso_spark.functions.dedup import robust_dedup

    df = spark.createDataFrame(
        [
            (1, "Posted 2024-01-02; 1,372 views. Great article!"),
            (2, "posted 2026-08-16:   9,999 views... (great) article"),
            (3, "Posted 2024-01-02; 1,372 views. Terrible article!"),
            (4, None),
            (5, "   "),
        ],
        ["doc_id", "text"],
    )
    out = {r["keep_id"]: r for r in robust_dedup(df, "text", "doc_id").collect()}
    assert out[1]["dup_count"] == 2  # 1 and 2 canonicalize identically
    assert out[3]["dup_count"] == 1
    assert out[4]["fingerprint"] is None and out[4]["dup_count"] == 1
    assert out[5]["dup_count"] == 1  # whitespace-only != NULL
    # the regex classes are ASCII-only by contract (Java regex and RE2
    # must agree byte-for-byte): unicode punctuation like an em-dash
    # survives canonicalization, so such variants do NOT merge
    df2 = spark.createDataFrame(
        [(1, "a — b"), (2, "a . b")], ["doc_id", "text"]
    )
    assert robust_dedup(df2, "text", "doc_id").count() == 2


def test_robust_dedup_unicode_fold(spark):
    """fold_unicode=True merges typographic re-renders (smart quotes,
    em-dash, NBSP, ellipsis) with their ASCII originals; off by default
    (the base canon is ASCII-only by contract). The fold class is a
    FIXED literal list, so Spark's Java regex and the DuckDB oracle's
    RE2 agree byte-for-byte — the oracle-gate query
    robust_dedup_unicode proves that on every doc."""
    from polars_nexpresso_spark.functions.dedup import robust_dedup

    df = spark.createDataFrame(
        [
            (1, 'He said "wait" - then left...'),
            (2, "He said “wait” — then left…"),
            (3, "He said shout - then left..."),
        ],
        ["doc_id", "text"],
    )
    # default: unicode punctuation survives, no merge
    assert robust_dedup(df, "text", "doc_id").count() == 3
    out = {
        r["keep_id"]: r
        for r in robust_dedup(
            df, "text", "doc_id", fold_unicode=True
        ).collect()
    }
    assert out[1]["dup_count"] == 2  # 1 and 2 fold to the same canon
    assert out[3]["dup_count"] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0  # exact duplicates
    assert (1, 2) in got  # near duplicates share most shingles
    assert all(j >= 0.5 for j in got.values())
    assert (1, 3) not in got


def test_ngram_jaccard_hot_shingle_cap(docs):
    # Cap df at 1 → every shared shingle is dropped → no pairs at all.
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.1, max_shingle_df=1
    )
    assert pairs.count() == 0


def test_decontaminate_exact_and_ngram(spark):
    from polars_nexpresso_spark.functions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # == eval doc
            (2, "completely unrelated training content right here"),
            (3, "prefix words then the quick brown fox jumps over the lazy dog tail"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    exact = decontaminate(train, eval_df, "text", "doc_id", mode="exact")
    assert {r["doc_id"] for r in exact.collect()} == {2, 3}  # only verbatim dropped

    # 9-gram overlap also catches the contaminated-with-extra-words doc 3
    ngram = decontaminate(train, eval_df, "text", "doc_id", mode="ngram", n=9)
    assert {r["doc_id"] for r in ngram.collect()} == {2}
    # schema passes through unchanged
    assert ngram.columns == ["doc_id", "text"]


def test_repetition_table(spark):
    from polars_nexpresso_spark.functions.text import repetition_table

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),       # "spam spam" ×3 of 3 bigrams
            (2, "all words here differ now"), # every bigram unique
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_table(df, "text", "doc_id", n=2).collect()}
    assert got[1]["top_count"] == 3 and got[1]["total_ngrams"] == 3
    assert got[1]["repetition_ratio"] == 1.0
    assert got[2]["top_count"] == 1
    assert got[2]["repetition_ratio"] == 0.25


def test_repetition_table_tokenizes_once(spark):
    """The staged token column must survive optimization: inline
    word_ngrams_all re-runs normalize+split n+3 times per row, and a
    CollapseProject regression (inlining the non-cheap multiply-
    referenced alias) would silently restore that cost (r11 advice).
    One `split(` in the optimized plan == one tokenization."""
    from polars_nexpresso_spark.functions.text import repetition_table

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = (
        repetition_table(df, "text", "doc_id", n=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_hash_split_deterministic_and_leak_free(spark):
    """Same id → same split regardless of run or row order; duplicate ids
    can never straddle train/test."""
    from polars_nexpresso_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(1000)], ["id"])
    a = {r["id"]: r["split"] for r in hash_split(df, "id", test_frac=0.2).collect()}
    b = {
        r["id"]: r["split"]
        for r in hash_split(
            df.orderBy(F.rand(seed=1)), "id", test_frac=0.2
        ).collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.15 < frac < 0.25
    # different seed re-deals
    c = {r["id"]: r["split"] for r in hash_split(df, "id", test_frac=0.2, seed=7).collect()}
    assert c != a


def test_cap_per_group_binds_and_is_layout_independent(spark):
    """At most max_n rows survive per group; under-cap groups pass through
    whole; the surviving SET is identical under any physical layout."""
    from polars_nexpresso_spark.functions.sampling import cap_per_group

    rows = [(i, "hot" if i < 90 else "cold") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = cap_per_group(df, "grp", "id", max_n=10)
    counts = {r["grp"]: r["count"] for r in out.groupBy("grp").count().collect()}
    assert counts == {"hot": 10, "cold": 10}
    shuffled = cap_per_group(
        df.orderBy(F.rand(seed=3)).repartition(7), "grp", "id", max_n=10
    )
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in shuffled.collect()
    }
    # different seed re-deals the survivors of the capped group
    reseeded = cap_per_group(df, "grp", "id", max_n=10, seed=7)
    hot_a = {r["id"] for r in out.filter(F.col("grp") == "hot").collect()}
    hot_b = {r["id"] for r in reseeded.filter(F.col("grp") == "hot").collect()}
    assert hot_a != hot_b
    import pytest

    with pytest.raises(ValueError, match="max_n"):
        cap_per_group(df, "grp", "id", max_n=0)


def test_stratified_sample_per_stratum_fractions(spark):
    from polars_nexpresso_spark.functions.sampling import stratified_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = stratified_sample(
        df, "grp", "id", fractions={"big": 0.1, "small": 1.0}
    )
    got = out.groupBy("grp").count().collect()
    counts = {r["grp"]: r["count"] for r in got}
    assert counts["small"] == 100          # kept whole
    assert 60 < counts["big"] < 140        # ~10% of 900
    # uniform float applies to all strata
    uni = stratified_sample(df, "grp", "id", fractions=0.5)
    assert 400 < uni.count() < 600


def test_stratified_sample_join_path_matches_expr_path(spark):
    """>64 strata switches to the broadcast-join implementation; results
    must match the expression path exactly (same hash, same cuts)."""
    from polars_nexpresso_spark.functions.sampling import stratified_sample

    rows = [(i, i % 100) for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    few = {g: 0.3 for g in range(50)}           # expression path
    many = {g: 0.3 for g in range(100)}         # join path
    expr_ids = {
        r["id"] for r in stratified_sample(df, "grp", "id", fractions=few).collect()
    }
    join_ids = {
        r["id"]
        for r in stratified_sample(df, "grp", "id", fractions=many).collect()
        if r["grp"] < 50
    }
    assert expr_ids == join_ids


def _min_reachable(nodes, pairs):
    """Reference labels: union-find over the pairs (NULL ends and
    self-pairs ignored), then each distinct node's least reachable id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _clusters(spark, nodes, pairs):
    from polars_nexpresso_spark.functions.dedup import dedup_clusters

    rows = dedup_clusters(
        spark.createDataFrame([(n,) for n in nodes], "doc_id long"),
        spark.createDataFrame(pairs, "id_a long, id_b long"),
        "doc_id",
    ).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows), "one row per distinct node id"
    return got


def test_dedup_clusters_connected_components(spark):
    """Transitive closure over pairs: cluster_id is the min id reachable.
    Inputs: a small forest, a 40-node path (beyond the old 25-round cap), an id-permuted 1,000-node
    path, and a star of chains whose centre has the largest id."""
    ids = list(range(1000))
    random.Random(7).shuffle(ids)
    arms = [[100 * a + i for i in range(8)] for a in range(5)]
    cases = [
        (range(1, 8), [(1, 2), (2, 3), (5, 6)],
         {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}),
        (range(40), [(i, i + 1) for i in range(39)], None),
        (range(1000), [(ids[i], ids[i + 1]) for i in range(999)], None),
        ([n for arm in arms for n in arm] + [10_000],
         [(arm[i], arm[i + 1]) for arm in arms for i in range(7)]
         + [(arm[-1], 10_000) for arm in arms], None),
    ]
    for nodes, pairs, expected in cases:
        nodes = list(nodes)
        if expected is None:
            expected = _min_reachable(nodes, pairs)
            assert set(expected.values()) == {min(nodes)}
        assert _clusters(spark, nodes, pairs) == expected


def test_dedup_clusters_long_chain_converges(spark):
    """A 12-node path graph needs multiple rounds — exercises the
    convergence loop and localCheckpoint lineage truncation."""
    from polars_nexpresso_spark.functions.dedup import dedup_clusters

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_pair_ends_outside_nodes(spark):
    """Pair endpoints missing from ``nodes`` carry connectivity but get no
    row: 4 reaches 2 through 3, and exactly one row comes back per
    distinct node id (duplicates collapse). Self-pairs and NULL ends are
    ignored."""
    pairs = [(2, 3), (3, 4), (1, 1), (None, 1), (4, None)]
    assert _clusters(spark, [1, 2, 4, 2], pairs) == {1: 1, 2: 2, 4: 2}


def test_dedup_clusters_round_bound_raises(spark, monkeypatch):
    """The round bound is a safety net that raises: it never returns
    unconverged labels."""
    from polars_nexpresso_spark.functions import dedup

    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="_MAX_ROUNDS=1"):
        _clusters(spark, range(40), [(i, i + 1) for i in range(39)])


@given(
    nodes=st.lists(st.integers(0, 24), min_size=20, max_size=40),
    pairs=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=10, max_size=40
    ),
    perm=st.permutations(range(31)),
)
@settings(max_examples=8, deadline=None)
def test_dedup_clusters_matches_union_find(spark, nodes, pairs, perm):
    """Random edge sets under a random id permutation, with duplicate node
    ids and pair ends outside ``nodes`` (drawn ids 25-30 are never nodes)."""
    nodes = [perm[n] for n in nodes]
    pairs = [(perm[a], perm[b]) for a, b in pairs]
    assert _clusters(spark, nodes, pairs) == _min_reachable(nodes, pairs)


def _parquet_nodes(spark, tmp_path, n):
    """A parquet-backed nodes frame: any corpus read shows in a plan."""
    path = str(tmp_path / "nodes.parquet")
    spark.range(n).selectExpr("id AS doc_id").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_dedup_clusters_edge_loop_matches_full(spark, tmp_path):
    """The edge-bounded propagation lands on the same (id, cluster_id)
    rows as a full-graph reference (union-find over every node):
    singletons, a pair, and a multi-round chain over a parquet-backed
    corpus."""
    from polars_nexpresso_spark.functions.dedup import dedup_clusters

    nodes = _parquet_nodes(spark, tmp_path, 12)
    edges = [(0, 1), (1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 10), (10, 11)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert got == _min_reachable(range(12), edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5,
                   7: 7, 8: 7, 9: 7, 10: 7, 11: 7}


def test_dedup_clusters_edge_loop_iterations_are_pair_bounded(
    spark, tmp_path, monkeypatch
):
    """Plan pin: every round's checkpointed frame derives ONLY from
    pinned (bounded) edge blocks — neither the corpus nor the raw pair
    input re-enters the loop, so per-round exchanges carry ≤ 2·|pairs|
    rows at any scale."""
    from polars_nexpresso_spark.functions.dedup import dedup_clusters

    nodes = _parquet_nodes(spark, tmp_path, 10)
    cls = type(nodes)  # the concrete (classic) DataFrame class
    plans: list[str] = []
    orig = cls.localCheckpoint

    def recording(self, eager=True):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    got = dedup_clusters(nodes, pairs, "doc_id").collect()
    assert {r["doc_id"]: r["cluster_id"] for r in got} == {
        i: 0 if i <= 4 else i for i in range(10)
    }
    # edges pin + one pin per round (a 5-node path needs several) + the
    # labelled output; only the rounds aggregate (window min).
    round_plans = [p for p in plans if "min(" in p]
    assert len(round_plans) >= 2
    for p in round_plans:
        assert "LogicalRDD" in p, p
        for marker in ("LocalRelation", "Scan", "parquet"):
            assert marker not in p, p


def test_dedup_clusters_end_to_end_with_jaccard(docs):
    """Pairs from the real finder feed the canonicalizer: docs 1 and 4 are
    exact dups (jaccard 1.0) → one cluster keeping id 1."""
    from polars_nexpresso_spark.functions.dedup import dedup_clusters

    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9)
    clusters = dedup_clusters(docs, pairs, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got[4] == 1 and got[1] == 1
    keep = {k for k, v in got.items() if k == v}
    assert keep == {1, 2, 3, 5}


def test_ngram_jaccard_cap_scores_filtered_universe(docs):
    # df cap at 2 drops the 6 shingles shared by docs 1/2/4 but keeps
    # "the lazy dog" (docs 1,4). Numerator AND denominator must use the
    # filtered universe: the identical pair still scores exactly 1.0
    # (pre-filter sizes would give 1/13 ≈ 0.077 — a silent underestimate).
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=2
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0
    assert (1, 2) not in got  # only disjoint post-filter shingles remain


def test_minhash_matches_bruteforce(docs):
    brute = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    # LSH verification is exact → precision 1 (subset); identical docs are
    # always recalled.
    assert lsh <= brute
    assert (1, 4) in lsh


def test_release_blocking_caches(docs):
    """Pair-finder blocking caches are registered and releasable: after
    materializing an LSH run, release_blocking_caches unpersists at least
    that run's bucket table, and results recompute identically after."""
    from polars_nexpresso_spark.functions.dedup import (
        release_blocking_caches,
    )

    release_blocking_caches()  # drain whatever earlier tests registered
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=16, threshold=0.5
    )
    before = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert release_blocking_caches() >= 1
    assert release_blocking_caches() == 0  # idempotent drain
    after = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert after == before
    # oov_rate's (group, token) count-table persist registers with the
    # SAME registry (round-9 ADVICE: it used to leak one cache entry
    # per call for the session's lifetime) and recomputes identically
    # after release
    from polars_nexpresso_spark.functions.text import oov_rate

    rates = oov_rate(docs, "text", "doc_id", vocab_size=5)
    first = {(r[0], r["n_tokens"], r["n_oov"]) for r in rates.collect()}
    assert release_blocking_caches() >= 1
    assert {(r[0], r["n_tokens"], r["n_oov"])
            for r in rates.collect()} == first


def test_simhash_pairs_identical(docs):
    pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 4)] == 0


def test_simhash_deterministic(docs):
    a = docs.select(simhash60(F.col("text")).alias("s")).collect()
    b = docs.select(simhash60(F.col("text")).alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]


@pytest.fixture()
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.95, 0.05], 1),
        (5, [0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_embedding_cosine_pairs(vectors):
    pairs = embedding_cosine_pairs(vectors, "embedding", "vec_id", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (3, 4) in got
    assert (1, 3) not in got


def test_embedding_cosine_pairs_blocked(vectors):
    pairs = embedding_cosine_pairs(
        vectors, "embedding", "vec_id", threshold=0.0, block_col="label"
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # only within-label pairs are compared
    assert got == {(1, 2), (3, 4)}


def test_cosine_topk(vectors):
    queries = vectors.filter(F.col("vec_id") == 1)
    result = cosine_topk(vectors, queries, k=2)
    rows = sorted(
        (r["rank"], r["neighbor_id"]) for r in result.collect()
    )
    assert rows[0] == (1, 2)  # closest neighbor of v1 is v2
    assert len(rows) == 2


def test_lsh_ann_subset_of_exact_topk(vectors):
    queries = vectors.filter(F.col("vec_id") == 1)
    ann = lsh_ann_topk(vectors, queries, k=2, num_planes=4, multiprobe=1)
    rows = ann.collect()
    assert all(r["query_id"] == 1 for r in rows)
    assert rows[0]["neighbor_id"] == 2  # nearest found despite bucketing


def test_ivf_ann_finds_nearest(vectors):
    from polars_nexpresso_spark.functions.similarity import ivf_ann_topk

    queries = vectors.filter(F.col("vec_id") == 1)
    ann = ivf_ann_topk(vectors, queries, k=2, n_centroids=2, n_probe=2)
    rows = ann.collect()
    assert all(r["query_id"] == 1 for r in rows)
    # probing both of the 2 cells makes the search exhaustive: exact answer
    assert rows[0]["neighbor_id"] == 2


def test_bpe_tokens_and_rolling_fingerprint(spark):
    from polars_nexpresso_spark.functions.text import (
        bpe_token_count,
        bpe_tokens,
        rolling_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "Hello, world's 42 cats!"), (2, "hello, world's 42 cats!"), (3, "cats 42")],
        ["id", "t"],
    )
    toks = df.select("id", bpe_tokens(F.col("t")).alias("bp"), bpe_token_count(F.col("t")).alias("n")).collect()
    by_id = {r["id"]: r for r in toks}
    assert by_id[1]["bp"] == ["hello", ",", " world", "'s", " 42", " cats", "!"]
    assert by_id[1]["n"] == 7
    fps = {r["id"]: r["fp"] for r in df.select("id", rolling_fingerprint(F.col("t")).alias("fp")).collect()}
    assert fps[1] == fps[2]  # case-insensitive normalization
    assert fps[1] != fps[3]  # order/content sensitive
    assert 0 <= fps[3] < 2147483647


def test_multimodal_feature_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh")), (2, bytearray(b"")), (3, bytearray(b"\x00\xff"))],
        "media_id long, content binary",
    )
    feats = extract_features(df, n_features=4, fake=True)
    got = {r["media_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == 8
    assert got[2]["n_bytes"] == 0
    assert len(got[1]["features"]) == 4
    assert got[3]["byte_mean"] == pytest.approx((0 + 255) / 2)


def test_multimodal_real_decode_raises_without_pillow(spark):
    from polars_nexpresso_spark.functions.multimodal import pil_available

    if pil_available():
        pytest.skip("Pillow installed — real path active, covered below")
    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, content binary")
    with pytest.raises(NotImplementedError):
        extract_features(df, fake=False)


def _wav_bytes(samples, *, rate=16000, width=2, channels=1) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        fmt = {1: "B", 2: "<h", 4: "<i"}[width]
        w.writeframes(b"".join(struct.pack(fmt, s) for s in samples))
    return buf.getvalue()


def test_decode_audio_real_wav_16bit(spark):
    """Real stdlib-wave path: header fields and normalized RMS are exact
    for a known 16-bit PCM signal (full-scale square wave → RMS 1.0)."""
    import math

    from polars_nexpresso_spark.functions.multimodal import decode_audio

    square = [32767, -32768] * 50  # ~full-scale, RMS ≈ 1.0
    half = [16384, -16384] * 50  # RMS = 0.5
    df = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(square, rate=16000))),
            (2, bytearray(_wav_bytes(half, rate=8000))),
        ],
        "media_id long, content binary",
    )
    got = {r["media_id"]: r for r in decode_audio(df).collect()}
    assert got[1]["sample_rate"] == 16000
    assert got[1]["n_channels"] == 1
    assert got[1]["n_samples"] == 100
    assert got[1]["duration_sec"] == pytest.approx(100 / 16000)
    exp_rms = math.sqrt((50 * (32767 / 32768) ** 2 + 50 * 1.0**2) / 100)
    assert got[1]["rms"] == pytest.approx(exp_rms, abs=1e-6)
    assert got[2]["rms"] == pytest.approx(0.5, abs=1e-6)
    assert got[2]["duration_sec"] == pytest.approx(100 / 8000)


def test_decode_audio_8bit_stereo(spark):
    """8-bit unsigned PCM and multi-channel framing decode correctly."""
    from polars_nexpresso_spark.functions.multimodal import decode_audio

    # Stereo: L=255 (→ ~0.99), R=0 (→ -1.0) interleaved, 10 frames.
    samples = [255, 0] * 10
    df = spark.createDataFrame(
        [(1, bytearray(_wav_bytes(samples, rate=4000, width=1, channels=2)))],
        "media_id long, content binary",
    )
    row = decode_audio(df).collect()[0]
    assert row["n_channels"] == 2
    assert row["n_samples"] == 10  # frames, not interleaved samples
    assert row["duration_sec"] == pytest.approx(10 / 4000)
    import math

    exp = math.sqrt(((127 / 128) ** 2 + 1.0) / 2)
    assert row["rms"] == pytest.approx(exp, abs=1e-6)


def test_decode_audio_codec_absent_raises(spark):
    """Non-WAV formats still raise the documented NotImplementedError."""
    from polars_nexpresso_spark.functions.multimodal import decode_audio

    df = spark.createDataFrame(
        [(1, bytearray(b"ID3fakeheader"))], "media_id long, content binary"
    )
    with pytest.raises(NotImplementedError):
        decode_audio(df, audio_format="mp3")


def test_synth_wav_roundtrip_matches_closed_form(spark):
    """synth_wav blobs decode (REAL wave path) to the closed-form counts
    the SQL oracle replays."""
    from polars_nexpresso_spark.functions.multimodal import (
        decode_audio,
        synth_wav,
    )

    ids = spark.createDataFrame([(7,), (12,)], "media_id long")
    out = {
        r["media_id"]: r
        for r in decode_audio(synth_wav(ids), fake=False).collect()
    }
    assert out[7]["n_samples"] == 100 + 7 % 50
    assert out[12]["n_samples"] == 100 + 12 % 50
    assert all(r["sample_rate"] == 8000 for r in out.values())


def _png_bytes(width: int, height: int, value: int) -> bytes:
    from PIL import Image
    import io

    img = Image.new("L", (width, height), value)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def test_multimodal_pil_decode_and_features(spark):
    """Real codec path (runs wherever Pillow is installed): header decode
    reports true dims; features come from PIXELS, not bytes."""
    pytest.importorskip("PIL")
    from polars_nexpresso_spark.functions.multimodal import decode_image

    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(8, 4, 200))), (2, bytearray(_png_bytes(3, 3, 0)))],
        "media_id long, content binary",
    )
    dims = {r["media_id"]: r for r in decode_image(df).collect()}
    assert (dims[1]["width"], dims[1]["height"]) == (8, 4)
    assert (dims[2]["width"], dims[2]["height"]) == (3, 3)

    feats = {r["media_id"]: r for r in extract_features(df, fake=False).collect()}
    assert feats[1]["byte_mean"] == pytest.approx(200.0)  # uniform luminance
    assert feats[2]["byte_mean"] == pytest.approx(0.0)


def test_multimodal_pil_resize(spark):
    pytest.importorskip("PIL")
    from polars_nexpresso_spark.functions.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(100, 50, 128)))], "media_id long, content binary"
    )
    out = resize_images(df, max_side=10).collect()[0]
    assert (out["width"], out["height"]) == (10, 5)  # aspect preserved
    assert bytes(out["content"])[:8] == b"\x89PNG\r\n\x1a\n"  # re-encoded PNG


def test_multimodal_fake_decode_and_resize_plumbing(spark):
    """Codec-less environments still exercise the full 1→1 blob-transform
    shape deterministically."""
    from polars_nexpresso_spark.functions.multimodal import (
        decode_image,
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh" * 100))], "media_id long, content binary"
    )
    dims = decode_image(df, fake=True).collect()[0]
    assert dims["n_bytes"] == 800
    assert dims["mode"] == "FAKE"
    resized = resize_images(df, max_side=4, fake=True).collect()[0]
    assert len(bytes(resized["content"])) <= 800
    assert resized["width"] == resized["height"] <= 4


def test_attach_media_meta(spark):
    df = spark.createDataFrame([(1, bytearray(b"abc"))], "media_id long, content binary")
    out = attach_media_meta(df, "content", "image/png")
    row = out.collect()[0]
    assert row["meta"]["format"] == "image/png"
    assert row["meta"]["n_bytes"] == 3


def test_sample_frames_row_expansion(spark):
    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(10))))], "media_id long, content binary"
    )
    frames = sample_frames(df, every_n_bytes=4)
    rows = sorted((r["frame_index"], r["offset"], r["frame_byte"]) for r in frames.collect())
    assert rows == [(0, 0, 0), (1, 4, 4), (2, 8, 8)]


def test_simhash_table_matches_simhash60(docs):
    """The codegen-friendly grouped computation is bit-identical to the
    per-row array-expression version (including empty-text all-ones)."""
    from polars_nexpresso_spark.functions.text import simhash_table

    import pyspark.sql.functions as SF

    spark = docs.sparkSession
    with_empty = docs.select("doc_id", "text").union(
        spark.createDataFrame([(999_999, "")], ["doc_id", "text"])
    )
    expected = {
        r["doc_id"]: r["s"]
        for r in with_empty.select(
            "doc_id", simhash60(SF.col("text")).alias("s")
        ).collect()
    }
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(with_empty, "text", "doc_id").collect()
    }
    assert got == expected


def test_ivf_kmeans_recall_on_clustered_data(spark):
    """k-means centroids recover the true cluster structure: with n_probe
    covering the query's own cluster, IVF top-1 matches exact top-1 for
    every query on a well-separated clustered set."""
    import random

    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    rng = random.Random(7)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0], [5.0, 5.0, 0.0]]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(25):
            rows.append((vid, [x + rng.uniform(-0.5, 0.5) for x in c]))
            vid += 1
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = vectors.filter(F.col("vec_id") % 25 == 3)

    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(vectors, queries, k=1).collect()
    }
    ann = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_ann_topk(
            vectors, queries, k=1, n_centroids=4, n_probe=2
        ).collect()
    }
    assert ann == exact


def test_ivf_centroid_methods_and_validation(spark):
    from polars_nexpresso_spark.functions.similarity import ivf_ann_topk

    vectors = spark.createDataFrame(
        [(i, [float(i + 1), float(i % 3 + 1)]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    q = vectors.filter(F.col("vec_id") == 0)
    for method in ("kmeans", "sample"):
        out = ivf_ann_topk(
            vectors, q, k=2, n_centroids=2, n_probe=2, centroids=method
        )
        assert out.count() > 0
    with pytest.raises(ValueError, match="centroids"):
        ivf_ann_topk(vectors, q, k=2, centroids="bogus")


def _write_vectors(path, vecs):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [list(map(float, v)) for v in vecs.astype(np.float32)],
        }),
        path,
    )


def _top_pairs(df):
    return sorted((r["query_id"], r["neighbor_id"]) for r in df.collect())


def test_kmeans_memo_retrains_on_overwritten_parquet(spark, tmp_path, monkeypatch):
    """The centroid and sample memos key on the input files' length and
    modification time, not only the plan: rewriting the corpus parquet
    in place (same path, same plan hash) with different vectors must
    train fresh centroids, while an untouched corpus keeps its memo hit."""
    import time

    import numpy as np

    from polars_nexpresso_spark.functions import similarity as S

    path = str(tmp_path / "emb.parquet")

    def write(n, seed):
        _write_vectors(path, np.random.default_rng(seed).normal(size=(n, 4)))

    def centroids():
        return S._kmeans_centroids(spark.read.parquet(path), "vec_id", "embedding", 3)

    write(40, 1)
    first = centroids()
    asks = []
    orig = S._training_sample

    def counting(*args, **kwargs):
        asks.append(args[3:])
        return orig(*args, **kwargs)

    monkeypatch.setattr(S, "_training_sample", counting)
    assert centroids() == first and not asks  # unchanged corpus: memo hit
    time.sleep(1.1)  # a coarse-grained filesystem clock must still move
    write(60, 2)
    fresh = centroids()
    assert asks, "overwritten corpus did not retrain"
    assert fresh != first
    assert fresh == S.kmeans_centroids_local(path, n_centroids=3)


def test_lsh_index_not_served_stale_after_in_place_overwrite(spark, tmp_path):
    """LSH hyperplanes do not depend on the data, so the persisted index
    plan of a parquet rewritten in place is identical to the old one and
    Spark's cache manager would serve the old rows to it: the index store
    must drop the old entry before building the new one. Probing every
    bucket makes the search exhaustive, so the answer must be exact."""
    import time

    import numpy as np

    from polars_nexpresso_spark.functions._caching import release_tracked_caches

    path = str(tmp_path / "emb.parquet")

    def search():
        corpus = spark.read.parquet(path)
        queries = corpus.filter(F.col("vec_id") < 4)
        approx = lsh_ann_topk(
            corpus, queries, k=3, num_planes=4, multiprobe=4, dim=8
        )
        return _top_pairs(approx), _top_pairs(cosine_topk(corpus, queries, k=3))

    try:
        _write_vectors(path, np.random.default_rng(1).uniform(-1, 1, (60, 8)))
        old, old_exact = search()
        assert old == old_exact
        time.sleep(1.1)  # a coarse-grained filesystem clock must still move
        _write_vectors(path, np.random.default_rng(2).uniform(-1, 1, (60, 8)))
        new, new_exact = search()
        assert new_exact != old_exact
        assert new == new_exact
    finally:
        release_tracked_caches()


def test_ivf_index_not_served_stale_when_centroids_survive_overwrite(
    spark, tmp_path
):
    """Rewriting only vectors outside the k-means training sample keeps
    the trained centroids, hence the IVF index plan, identical: the
    search over the rewritten parquet must still read the new vectors
    (every cell probed, so the answer must be exact). The rewritten rows
    become near-copies of the query vectors, so only a search that reads
    them finds them as the nearest neighbors."""
    import time

    import numpy as np

    from polars_nexpresso_spark.functions import similarity as S
    from polars_nexpresso_spark.functions._caching import release_tracked_caches

    path = str(tmp_path / "emb.parquet")
    n, sample_size = 1100, 1024
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(n, 4))
    order = sorted(range(n), key=lambda i: (S._md5_sample_key(i), i))
    probes, outside = order[:4], order[sample_size:]

    def search():
        corpus = spark.read.parquet(path)
        queries = corpus.filter(F.col("vec_id").isin(probes))
        approx = S.ivf_ann_topk(corpus, queries, k=3, n_centroids=4, n_probe=4)
        cents = S._kmeans_centroids(corpus, "vec_id", "embedding", 4)
        return _top_pairs(approx), _top_pairs(cosine_topk(corpus, queries, k=3)), cents

    try:
        _write_vectors(path, vecs)
        old, old_exact, old_cents = search()
        assert old == old_exact
        time.sleep(1.1)
        near = vecs[[probes[j % 4] for j in range(len(outside))]]
        vecs[outside] = near + 1e-3 * rng.normal(size=near.shape)
        _write_vectors(path, vecs)
        new, new_exact, new_cents = search()
        assert new_cents == old_cents
        assert new_exact != old_exact
        assert new == new_exact
    finally:
        release_tracked_caches()


@pytest.mark.parametrize("kind", ["ivf", "lsh", "pq", "ivfpq"])
def test_search_index_built_once_and_released(spark, monkeypatch, kind):
    """Each search operator builds its persisted corpus index once per
    corpus version: a repeat call gets the same frame back and plans its
    corpus scan over the cache; release_tracked_caches() unpersists it,
    and the next call builds a new one."""
    import random

    from pyspark import StorageLevel

    from polars_nexpresso_spark.functions import similarity as S
    from polars_nexpresso_spark.functions._caching import release_tracked_caches

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    search = {
        "ivf": lambda: S.ivf_ann_topk(corpus, queries, k=3, n_centroids=4),
        "lsh": lambda: S.lsh_ann_topk(corpus, queries, k=3, dim=8),
        "pq": lambda: S.pq_ann_topk(corpus, queries, k=3, m=2, n_codes=4),
        "ivfpq": lambda: S.ivfpq_ann_topk(
            corpus, queries, k=3, n_centroids=4, m=2, n_codes=4
        ),
    }[kind]
    built = []
    orig = S._search_index

    def spy(*args):
        built.append(orig(*args))
        return built[-1]

    monkeypatch.setattr(S, "_search_index", spy)
    release_tracked_caches()
    first = search().collect()
    second = search()
    assert built[1] is built[0]
    assert "InMemoryRelation" in second._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(second.collect()) == sorted(first)
    assert built[0].storageLevel == StorageLevel.MEMORY_AND_DISK
    assert release_tracked_caches() >= 1
    assert built[0].storageLevel == StorageLevel.NONE
    assert sorted(search().collect()) == sorted(first)
    assert built[2] is not built[0]
    assert built[2].storageLevel == StorageLevel.MEMORY_AND_DISK
    release_tracked_caches()


def test_training_memos_stay_bounded_under_concurrent_writers(spark):
    """The bounded FIFO memos are shared by operators built on
    concurrent threads: many threads inserting at once (with a shortened
    switch interval) must neither raise from the evict-then-insert
    sequence nor grow a memo past its bound. In the search-index store
    an evicted frame is unpersisted, and release_tracked_caches()
    empties the store."""
    import sys
    import threading

    from pyspark import StorageLevel

    from polars_nexpresso_spark.functions import similarity as S
    from polars_nexpresso_spark.functions._caching import release_tracked_caches

    memo: dict = {}
    errors: list = []

    def writer(t):
        try:
            for i in range(2000):
                S._memo_put(memo, (t, i), i)
                S._memo_get(memo, (t, i))
                assert len(memo) <= 8
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    release_tracked_caches()
    frames = [spark.range(t + 1).persist() for t in range(16)]

    def index_writer(t):
        try:
            S._memo_put(S._INDEX_MEMO, ("bound", t), frames[t])
            assert len(S._INDEX_MEMO) <= 8
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(16)]
        threads += [
            threading.Thread(target=index_writer, args=(t,)) for t in range(16)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert len(memo) == 8
    kept = list(S._INDEX_MEMO.values())
    assert len(kept) == 8
    for df in frames:  # evicted frames are unpersisted, kept ones not
        held = any(df is k for k in kept)
        assert (df.storageLevel != StorageLevel.NONE) == held
    assert release_tracked_caches() >= 8
    assert not S._INDEX_MEMO
    assert all(df.storageLevel == StorageLevel.NONE for df in frames)


def test_lsh_multiprobe_exhaustive_equals_exact(spark):
    """multiprobe == num_planes probes every bucket (all Hamming distances),
    so the LSH search degenerates to exhaustive and must equal the exact
    top-k — pins that multiprobe really expands to the requested distance
    (a bug once capped it at 1-bit flips regardless of value)."""
    import random

    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    rng = random.Random(11)
    vectors = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    queries = vectors.filter(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(vectors, queries, k=3).collect()
    }
    exhaustive = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(
            vectors, queries, k=3, num_planes=4, multiprobe=4
        ).collect()
    }
    assert exhaustive == exact
    # and distance-1 probing is a strict subset of the probe volume: its
    # recall can only be lower or equal
    narrow = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(
            vectors, queries, k=3, num_planes=4, multiprobe=1
        ).collect()
    }
    assert len(narrow & exact) <= len(exhaustive & exact)


def test_decontaminate_stream_matches_batch_join_path(spark):
    """The stateless dictionary filter keeps exactly the docs the batch
    semi/anti-join path keeps."""
    from polars_nexpresso_spark.functions.dedup import (
        decontaminate,
        decontaminate_stream,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    batch_ids = {
        r["doc_id"]
        for r in decontaminate(
            train, eval_df, "text", "doc_id", mode="ngram", n=13
        ).select("doc_id").collect()
    }
    stream_ids = {
        r["doc_id"]
        for r in decontaminate_stream(train, eval_df, "text", n=13)
        .select("doc_id")
        .collect()
    }
    assert stream_ids == batch_ids
    assert len(stream_ids) < train.count()  # the filter actually bound


def test_decontaminate_stream_keeps_null_text_docs(spark):
    """NULL text must survive like it does on the batch path (explode
    silently keeps null-text docs) instead of crashing the vectorized
    membership probe on np.asarray(None)."""
    from polars_nexpresso_spark.functions.dedup import (
        decontaminate,
        decontaminate_stream,
    )

    eval_df = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(20)))], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(20))),  # contaminated
            (2, None),  # null text — must survive, not crash
            (3, "completely different words here all of them"),
        ],
        "doc_id long, text string",
    )
    stream_ids = {
        r["doc_id"]
        for r in decontaminate_stream(train, eval_df, "text", n=13)
        .select("doc_id")
        .collect()
    }
    batch_ids = {
        r["doc_id"]
        for r in decontaminate(
            train, eval_df, "text", "doc_id", mode="ngram", n=13
        ).select("doc_id").collect()
    }
    assert stream_ids == batch_ids == {2, 3}


def test_decontaminate_stream_on_actual_stream(spark):
    """End-to-end on a real readStream: availableNow drain keeps exactly
    the batch survivors — no state, no watermark needed."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.dedup import decontaminate_stream
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)

    tmp = tempfile.mkdtemp(prefix="pns_decon_stream_")
    try:
        train.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        expected = {
            r["doc_id"]
            for r in decontaminate_stream(static, eval_df, "text", n=13)
            .select("doc_id")
            .collect()
        }
        stream = spark.readStream.schema(static.schema).parquet(f"{tmp}/in")
        kept = decontaminate_stream(stream, eval_df, "text", n=13)
        assert kept.isStreaming
        q = (
            kept.select("doc_id")
            .writeStream.format("memory")
            .queryName("decon_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.table("decon_stream_out").collect()}
        assert got == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_decontaminate_stream_eval_size_guard(spark):
    import pytest

    from polars_nexpresso_spark.functions.dedup import decontaminate_stream

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_eval_shingles"):
        decontaminate_stream(df, df, "text", n=3, max_eval_shingles=5)


def test_project_embeddings_preserves_distances(spark):
    import math

    import numpy as np

    from polars_nexpresso_spark.functions.similarity import (
        project_embeddings,
        rademacher_matrix,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: np.array(r["proj"])
        for r in project_embeddings(df, out_dim=32, dim=64).collect()
    }
    # JL guarantee (loose check): relative distance distortion bounded
    # for most pairs at k=32
    dist_in, dist_out = [], []
    for i in range(0, 20, 2):
        a, b = vecs[i], vecs[i + 1]
        dist_in.append(np.linalg.norm(a - b))
        dist_out.append(np.linalg.norm(out[i] - out[i + 1]))
    ratios = np.array(dist_out) / np.array(dist_in)
    assert 0.6 < ratios.mean() < 1.4
    # deterministic matrix: same seed -> same values, exact
    again = {
        r["vec_id"]: r["proj"]
        for r in project_embeddings(df, out_dim=32, dim=64).collect()
    }
    assert again[0] == list(out[0])
    # matrix itself is ±1 only
    mat = rademacher_matrix(4, 8)
    assert all(abs(s) == 1.0 for row in mat for s in row)


def test_project_embeddings_validates(spark):
    from polars_nexpresso_spark.functions.similarity import project_embeddings

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="out_dim"):
        project_embeddings(df, out_dim=5, dim=4)


def test_corpus_rollup_margins(spark):
    from polars_nexpresso_spark.pipeline_queries import q_corpus_rollup

    rows = q_corpus_rollup(spark, "/root/testdata/sf0.001").collect()
    total = [r for r in rows if r["source"] is None and r["lang"] is None]
    assert len(total) == 1
    per_source = [r for r in rows if r["source"] and r["lang"] is None]
    assert sum(r["n_docs"] for r in per_source) == total[0]["n_docs"]


def test_decode_video_real_avi_roundtrip(spark):
    """synth_avi → decode_video parses the real RIFF container and
    decodes raw RGB24 frames with numpy — no codec library involved."""
    from polars_nexpresso_spark.functions.multimodal import (
        decode_video,
        synth_avi,
    )

    ids = spark.createDataFrame([(i,) for i in range(12)], ["media_id"])
    media = synth_avi(ids, width=8, height=6, fps=10, n_base=4, n_mod=6)
    got = {r["media_id"]: r for r in decode_video(media).collect()}
    assert len(got) == 12
    n_px = 8 * 6 * 3
    for mid, r in got.items():
        nf = 4 + mid % 6
        assert (r["width"], r["height"], r["n_frames"]) == (8, 6, nf)
        assert r["fps"] == 10.0
        assert r["duration_sec"] == round(nf / 10.0, 6)
        exact = sum(
            (mid * 31 + f * 17 + i * 7) % 256
            for f in range(nf)
            for i in range(n_px)
        ) / (nf * n_px)
        assert abs(r["mean_pixel"] - round(exact, 6)) < 1e-6, mid


def test_decode_video_compressed_requires_codec(spark):
    """A non-BI_RGB stream must raise the documented NotImplementedError
    when no codec library is importable (this container has none)."""
    import struct

    import pytest as _pytest

    from polars_nexpresso_spark.functions.multimodal import (
        _build_avi,
        decode_video,
        video_codec_available,
    )

    if video_codec_available():  # pragma: no cover — codec-ful envs
        _pytest.skip("codec library present; compressed path would decode")
    blob = bytearray(_build_avi([b"\x00" * 144], 8, 6, 10))
    # flip biCompression (strf offset 16) to 'MJPG'
    idx = blob.index(b"strf") + 8 + 16
    blob[idx:idx + 4] = struct.pack("<I", 0x47504A4D)
    df = spark.createDataFrame([(1, bytes(blob))], ["media_id", "content"])
    with _pytest.raises(Exception, match="codec"):
        decode_video(df).collect()


def test_decode_video_malformed_raises(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.multimodal import decode_video

    df = spark.createDataFrame(
        [(1, b"this is not an avi")], ["media_id", "content"]
    )
    with _pytest.raises(Exception, match="RIFF"):
        decode_video(df).collect()


def test_decode_video_fake_mode(spark):
    from polars_nexpresso_spark.functions.multimodal import decode_video

    df = spark.createDataFrame(
        [(1, bytes([10, 20, 30, 40]))], ["media_id", "content"]
    )
    r = decode_video(df, fake=True).collect()[0]
    assert r["mean_pixel"] == 25.0 and r["width"] == 4


def test_duplicated_window_fraction_semantics(spark):
    from polars_nexpresso_spark.functions.dedup import (
        duplicated_window_fraction,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox sat on the mat today"),  # shares lead 4-gram
            (3, "completely different text with no shared spans at all"),
            (4, "tiny doc"),  # shorter than window: one whole-doc window
            (5, "tiny doc"),  # exact dup of 4 -> both fully duplicated
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_window_fraction(
            docs, "text", "doc_id", window=4, min_df=2
        ).collect()
    }
    # brute force in python (mirrors tokens(): lower + whitespace split)
    def windows(t):
        toks = t.lower().split()
        if len(toks) <= 4:
            return [" ".join(toks)]
        return [" ".join(toks[i:i + 4]) for i in range(len(toks) - 3)]

    texts = {r[0]: r[1] for r in docs.collect()}
    from collections import Counter

    owner = {}
    for d, t in texts.items():
        for g in set(windows(t)):
            owner.setdefault(g, set()).add(d)
    for d, t in texts.items():
        ws = windows(t)
        n_dup = sum(1 for g in ws if len(owner[g]) >= 2)
        assert out[d]["n_windows"] == len(ws), d
        assert out[d]["n_dup_windows"] == n_dup, d
        assert out[d]["dup_frac"] == round(n_dup / len(ws), 6), d
    # sanity on the fixture itself: 1&2 share a span, 3 is clean, 4&5 dup
    assert out[3]["n_dup_windows"] == 0
    assert out[4]["dup_frac"] == 1.0 and out[5]["dup_frac"] == 1.0
    assert 0 < out[1]["dup_frac"] < 1


def test_duplicated_window_fraction_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        duplicated_window_fraction,
    )

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="window"):
        duplicated_window_fraction(docs, "text", "doc_id", window=0)
    with _pytest.raises(ValueError, match="min_df"):
        duplicated_window_fraction(docs, "text", "doc_id", min_df=1)


def test_contamination_report_semantics(spark):
    from polars_nexpresso_spark.functions.dedup import contamination_report

    train = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta"),
            (101, "delta epsilon zeta eta"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # fully contained in train 100
            (2, "beta gamma delta epsilon"), # partial overlap
            (3, "nothing shared here at"),   # clean
            (4, "tiny"),                     # < n tokens: one whole-doc shingle
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in contamination_report(
            train, evals, "text", "doc_id", n=2
        ).collect()
    }

    def grams(t, n=2):
        toks = t.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    train_grams = set().union(*(grams(t) for _, t in train.collect()))
    for d, t in evals.collect():
        g = grams(t)
        hits = sum(1 for s in g if s in train_grams)
        assert out[d]["n_shingles"] == len(g), d
        assert out[d]["n_hit"] == hits, d
        assert out[d]["hit_frac"] == round(hits / len(g), 6), d
    assert out[1]["hit_frac"] == 1.0
    assert out[3]["n_hit"] == 0 and out[4]["n_hit"] == 0


def test_skew_salted_top_k_and_cap_match_unsalted(spark):
    """The two-phase salted forms must return EXACTLY the single-window
    result (total order => any global top-k row survives its salt
    partition), while the hot key spreads over (key, salt) partitions."""
    import random

    from polars_nexpresso_spark.functions.sampling import (
        cap_per_group,
        top_k_per_group,
    )

    rng = random.Random(41)
    rows = [
        (i, "hot" if i % 2 == 0 else f"g{i % 7}", rng.randint(0, 1000))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["event_id", "grp", "value"])

    base_topk = {
        (r["grp"], r["event_id"], r["rank"])
        for r in top_k_per_group(
            df, ["grp"], [F.col("value").desc(), "event_id"], k=5
        ).collect()
    }
    salted_topk_df = top_k_per_group(
        df, ["grp"], [F.col("value").desc(), "event_id"], k=5,
        skew_salt=8,
    )
    salted_topk = {
        (r["grp"], r["event_id"], r["rank"])
        for r in salted_topk_df.collect()
    }
    assert salted_topk == base_topk
    # the partial phase really windows by (key, salt)
    plan = (
        salted_topk_df._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "pmod(xxhash64" in plan

    base_cap = {
        r["event_id"]
        for r in cap_per_group(
            df, "grp", "event_id", max_n=4
        ).collect()
    }
    salted_cap = {
        r["event_id"]
        for r in cap_per_group(
            df, "grp", "event_id", max_n=4, skew_salt=8
        ).collect()
    }
    assert salted_cap == base_cap


def test_skew_salt_validation(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.sampling import (
        cap_per_group,
        top_k_per_group,
    )

    df = spark.createDataFrame([(1, "g", 2)], ["event_id", "grp", "value"])
    with _pytest.raises(ValueError, match="skew_salt"):
        cap_per_group(df, "grp", "event_id", max_n=1, skew_salt=1)
    with _pytest.raises(ValueError, match="salt_on"):
        top_k_per_group(
            df, ["grp"], [F.col("value").desc()], k=1, skew_salt=4
        )


def test_dsir_log_weights_prefers_target_like_docs(spark):
    from polars_nexpresso_spark.functions.sampling import dsir_log_weights

    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(4)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),          # identical to target
            (2, "the cat sat on a chair today"),    # partial overlap
            (3, "quantum flux capacitor manifold"), # nothing shared
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(
            raw, target, "text", "doc_id", n=2, num_buckets=64
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["n_grams"] == 5  # 6 tokens -> 5 bigrams
    # target-likeness must order the weights
    assert out[1]["log_weight"] > out[2]["log_weight"] > out[3]["log_weight"]


def test_dsir_log_weights_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.sampling import dsir_log_weights

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="num_buckets"):
        dsir_log_weights(df, df, "text", "doc_id", num_buckets=0)
    with _pytest.raises(ValueError, match="alpha"):
        dsir_log_weights(df, df, "text", "doc_id", alpha=0)


def test_dsir_single_scan_per_corpus(spark):
    """The raw corpus must be scanned ONCE: q_counts / nr / scoring all
    branch above the per-doc bucket-count shuffle, which AQE dedupes via
    ReusedExchange. The pin reads the FINAL adaptive plan (reuse only
    materializes at execution) and counts concrete parquet scans."""
    from pyspark.sql import functions as F

    from polars_nexpresso_spark.functions.sampling import dsir_log_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = docs.filter(F.col("doc_id") >= 25).select("doc_id", "text")
    target = docs.filter(F.col("doc_id") < 25).select("doc_id", "text")
    out = dsir_log_weights(raw, target, "text", "doc_id", num_buckets=64)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    # one scan for raw, one for target — every other branch reuses
    assert final.count("FileScan") == 2, final
    assert "ReusedExchange" in final, final


def test_gumbel_topk_deterministic_and_biased_to_high_scores(spark):
    from polars_nexpresso_spark.functions.sampling import gumbel_topk

    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(1000)], ["doc_id", "score"]
    )
    a = {r["doc_id"] for r in gumbel_topk(df, "score", "doc_id", k=100).collect()}
    b = {r["doc_id"] for r in gumbel_topk(df, "score", "doc_id", k=100).collect()}
    assert a == b and len(a) == 100  # same seed -> identical sample
    c = {
        r["doc_id"]
        for r in gumbel_topk(df, "score", "doc_id", k=100, seed=7).collect()
    }
    assert c != a  # re-seeded -> a different deal
    # soft-max bias: the selected mean score must beat the population mean
    pop_mean = 49.5
    sel_mean = sum(i % 100 for i in a) / len(a)
    assert sel_mean > pop_mean + 10
    # low temperature -> sharper selection (approaches hard top-k)
    sharp = {
        r["doc_id"]
        for r in gumbel_topk(
            df, "score", "doc_id", k=100, temperature=0.05
        ).collect()
    }
    sharp_mean = sum(i % 100 for i in sharp) / len(sharp)
    assert sharp_mean > sel_mean


def test_gumbel_topk_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.sampling import gumbel_topk

    df = spark.createDataFrame([(1, 1.0)], ["doc_id", "score"])
    with _pytest.raises(ValueError, match="k must"):
        gumbel_topk(df, "score", "doc_id", k=0)
    with _pytest.raises(ValueError, match="temperature"):
        gumbel_topk(df, "score", "doc_id", k=1, temperature=0)


def test_remove_boilerplate_lines_basic(spark):
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\nFOOTER\nbeta"),
            (2, "FOOTER\ngamma"),
            (3, "delta\nFOOTER"),
            (4, "FOOTER"),  # every line boilerplate -> empty but kept
            (5, "unique\nlines\nonly"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_boilerplate_lines(
            docs, "text", "doc_id", min_docs=3
        ).collect()
    }
    assert out[1] == ("alpha\nbeta", 2, 1)  # order preserved
    assert out[2] == ("gamma", 1, 1)
    assert out[3] == ("delta", 1, 1)
    assert out[4] == ("", 0, 1)  # no silent row loss
    assert out[5] == ("unique\nlines\nonly", 3, 0)


def test_remove_boilerplate_lines_frac_and_delimiter(spark):
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    # token unit: 'the' appears in 3/4 docs (75% >= 50% bar), removed
    docs = spark.createDataFrame(
        [
            (1, "the cat"),
            (2, "the dog"),
            (3, "the bird"),
            (4, "a fish"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_lines(
            docs, "text", "doc_id",
            min_docs=None, min_doc_frac=0.5, delimiter=" ",
        ).collect()
    }
    assert out == {1: "cat", 2: "dog", 3: "bird", 4: "a fish"}


def test_remove_boilerplate_lines_intra_doc_repeats_dont_count(spark):
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    # 'x' repeats 3 times inside ONE doc: distinct-doc count is 1 < 2
    docs = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_lines(
            docs, "text", "doc_id", min_docs=2
        ).collect()
    }
    assert out == {1: "x\nx\nx", 2: "y"}


def test_remove_boilerplate_lines_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(df, "text", "doc_id", min_docs=0)
    with _pytest.raises(ValueError, match="min_doc_frac"):
        remove_boilerplate_lines(
            df, "text", "doc_id", min_doc_frac=1.5
        )
    with _pytest.raises(ValueError, match="delimiter"):
        remove_boilerplate_lines(df, "text", "doc_id", delimiter="")


def test_semantic_dedup_drops_near_duplicates_keep_earliest(spark):
    from polars_nexpresso_spark.functions.similarity import semantic_dedup

    # ids 1,2: identical vectors (cos=1); id 3: orthogonal; id 4: a
    # scaled copy of 1 (cosine invariant to scale -> also a dup)
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [2.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            emb, n_centroids=2, threshold=0.95
        ).collect()
    }
    assert out[1] is True  # earliest copy kept
    assert out[2] is False
    assert out[3] is True
    assert out[4] is False
    assert len(out) == 4  # one row per input vector


def test_semantic_dedup_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="threshold"):
        semantic_dedup(emb, threshold=0.0)
    with _pytest.raises(ValueError, match="centroids"):
        semantic_dedup(emb, centroids="nope")


def test_semantic_dedup_no_cross_cluster_pairs(spark):
    """The quadratic test must be confined to within-cluster pairs: the
    pair join is an equi-join on cluster_id, never a cartesian."""
    from polars_nexpresso_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], ["vec_id", "embedding"]
    )
    df = semantic_dedup(emb, n_centroids=2, threshold=0.99)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_lines_within_doc_keeps_first_occurrence(spark):
    from polars_nexpresso_spark.functions.dedup import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"), (2, "x"), (3, "")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in dedup_lines_within_doc(df, "text", "doc_id").collect()
    }
    assert out[1] == ("a\nb\nc", 3, 2)  # reading order, first kept
    assert out[2] == ("x", 1, 0)
    assert out[3] == ("", 1, 0)  # "" splits to [""] — one (empty) line


def test_dedup_lines_within_doc_zero_shuffle_plan(spark):
    from polars_nexpresso_spark.functions.dedup import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame([(1, "a\nb\na")], ["doc_id", "text"])
    plan = (
        dedup_lines_within_doc(df, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure map-side expression
    assert "BatchEvalPython" not in plan


def test_dedup_lines_within_doc_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="delimiter"):
        dedup_lines_within_doc(df, "text", "doc_id", delimiter="")


def test_source_overlap_jaccard(spark):
    from polars_nexpresso_spark.functions.dedup import source_overlap

    # s1/s2 share one bigram universe member; s3 disjoint
    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "a b d", "s2"),
            (3, "x y z", "s3"),
        ],
        ["doc_id", "text", "src"],
    )
    out = {
        (r["source_a"], r["source_b"]): (r["n_shared"], r["jaccard"])
        for r in source_overlap(df, "text", "src", n=2).collect()
    }
    # s1 bigrams {ab, bc}; s2 {ab, bd}: share 1 of 3 distinct
    assert out[("s1", "s2")] == (1, round(1 / 3, 6))
    # disjoint pairs emit no row
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_source_overlap_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import source_overlap

    df = spark.createDataFrame([(1, "x", "s")], ["doc_id", "text", "src"])
    with _pytest.raises(ValueError, match="n must"):
        source_overlap(df, "text", "src", n=0)


def test_take_token_budget_prefix_property(spark):
    from polars_nexpresso_spark.functions.sampling import take_token_budget

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 7))) for i in range(200)],
        ["doc_id", "text"],
    )
    small = {
        r["doc_id"]
        for r in take_token_budget(
            docs, "text", "doc_id", budget=200
        ).collect()
    }
    big_rows = take_token_budget(docs, "text", "doc_id", budget=600).collect()
    big = {r["doc_id"] for r in big_rows}
    # growing the budget only ADDS docs (prefix of the same hash order)
    assert small < big
    # budget respected: max inclusive cumulative <= budget
    assert max(r["cum_tokens"] for r in big_rows) <= 600
    # deterministic across physical layouts
    relaid = {
        r["doc_id"]
        for r in take_token_budget(
            docs.repartition(13), "text", "doc_id", budget=600
        ).collect()
    }
    assert relaid == big
    # re-seed re-deals the order
    reseeded = {
        r["doc_id"]
        for r in take_token_budget(
            docs, "text", "doc_id", budget=600, seed=7
        ).collect()
    }
    assert reseeded != big


def test_take_token_budget_no_unbounded_row_window(spark):
    """The only unpartitioned window must be over the <= n_buckets-row
    bucket-sum table; the per-ROW running sum is partitioned by bucket."""
    from polars_nexpresso_spark.functions.sampling import take_token_budget

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], ["doc_id", "text"]
    )
    plan = (
        take_token_budget(docs, "text", "doc_id", budget=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the row-level window line must carry a partition spec (__b)
    row_windows = [
        ln
        for ln in plan.splitlines()
        if ln.lstrip(" +-:*").startswith("Window ") and "__h" in ln
    ]
    assert row_windows and all("__b" in ln for ln in row_windows), plan


def test_take_token_budget_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.sampling import take_token_budget

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="budget"):
        take_token_budget(docs, "text", "doc_id", budget=-1)
    with _pytest.raises(ValueError, match="n_buckets"):
        take_token_budget(docs, "text", "doc_id", budget=1, n_buckets=0)


def test_nb_quality_separates_corpora(spark):
    from polars_nexpresso_spark.functions.text import (
        nb_quality_model,
        nb_quality_score,
    )

    pos = spark.createDataFrame(
        [(i, "insight evidence analysis careful") for i in range(4)],
        ["doc_id", "text"],
    )
    neg = spark.createDataFrame(
        [(10 + i, "click spam buy now") for i in range(4)],
        ["doc_id", "text"],
    )
    model = nb_quality_model(pos, neg, "text")
    test = spark.createDataFrame(
        [
            (100, "careful analysis evidence"),
            (101, "buy spam click"),
            (102, "unseen words entirely"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["nb_logodds"]
        for r in nb_quality_score(test, model, "text", "doc_id").collect()
    }
    assert got[100] > 0 > got[101]  # positive-like vs negative-like
    assert got[102] == 0.0  # OOV tokens are neutral


def test_nb_quality_model_single_scan_per_corpus(spark):
    """Totals branch above the count shuffles — exchange reuse keeps
    each corpus at ONE scan (the DSIR plan shape)."""
    from pyspark.sql import functions as F

    from polars_nexpresso_spark.functions.text import nb_quality_model

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = nb_quality_model(
        docs.filter(F.col("doc_id") < 100),
        docs.filter(F.col("doc_id") >= 100),
        "text",
    )
    model.collect()
    plan = model._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("FileScan") == 2, final  # one per corpus
    assert "ReusedExchange" in final, final


def test_nb_quality_model_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.text import nb_quality_model

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="alpha"):
        nb_quality_model(df, df, "text", alpha=0)


def test_image_ahash_matches_closed_form_and_detects_dups(spark):
    from polars_nexpresso_spark.functions.dedup import hamming_pairs
    from polars_nexpresso_spark.functions.multimodal import (
        image_ahash,
        synth_avi,
    )

    # ids 0 and 256 synthesize identical first frames ((id*31) % 256
    # collides), id 7 differs
    ids = spark.createDataFrame([(0,), (7,), (256,)], ["media_id"])
    media = synth_avi(ids, width=8, height=8, fps=10, n_base=2, n_mod=3)
    hashed = {
        r["media_id"]: r["ahash"]
        for r in image_ahash(media, fake=False).collect()
    }

    def closed_form(mid):
        gray = [
            (
                (mid * 31 + (3 * p) * 7) % 256
                + (mid * 31 + (3 * p + 1) * 7) % 256
                + (mid * 31 + (3 * p + 2) * 7) % 256
            )
            // 3
            for p in range(60)
        ]
        mean = sum(gray) // 60
        return sum(1 << p for p in range(60) if gray[p] >= mean)

    for mid in (0, 7, 256):
        assert hashed[mid] == closed_form(mid), mid
    assert hashed[0] == hashed[256]

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            image_ahash(media, fake=False), "ahash", "media_id",
            bits=60, max_hamming=3,
        ).collect()
    }
    assert pairs[(0, 256)] == 0


def test_image_ahash_fake_and_empty(spark):
    from polars_nexpresso_spark.functions.multimodal import image_ahash

    df = spark.createDataFrame(
        [(1, bytearray(b"\x10" * 200)), (2, bytearray(b""))],
        "media_id long, content binary",
    )
    got = {
        r["media_id"]: r["ahash"]
        for r in image_ahash(df, fake=True).collect()
    }
    # uniform bytes: every gray == mean -> all 60 bits set
    assert got[1] == (1 << 60) - 1
    # empty blob: zeros, mean 0, gray >= mean everywhere -> all bits set
    assert got[2] == (1 << 60) - 1


def test_hamming_pairs_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import hamming_pairs

    df = spark.createDataFrame([(1, 5)], ["id", "h"])
    with _pytest.raises(ValueError, match="bits"):
        hamming_pairs(df, "h", "id", bits=0)
    with _pytest.raises(ValueError, match="max_hamming"):
        hamming_pairs(df, "h", "id", bits=4, max_hamming=4)


def test_remove_boilerplate_strategies_equivalent(spark):
    """Catalyst's broadcast and shuffle join strategies for the boiler
    anti-join produce identical rows, including all-boiler docs (empty
    clean_text) and NULL text (counts as empty, never negative counts)."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [
            (1, "nav\nreal one\nfooter"),
            (2, "nav\nother text\nfooter"),
            (3, "nav\nfooter"),
            (4, None),
            (5, "unique doc"),
        ],
        "doc_id long, text string",
    )

    def rows():
        return {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
            for r in remove_boilerplate_lines(
                df, "text", "doc_id", min_docs=3
            ).collect()
        }

    expect = rows()
    assert expect[1] == ("real one", 1, 2)
    assert expect[3] == ("", 0, 2)  # every line boiler -> survives empty
    assert expect[4] == ("", 1, 0)  # NULL text == "" -> one empty line
    assert expect[5] == ("unique doc", 1, 0)
    conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert rows() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)


def test_remove_boilerplate_join_shuffles_hashes_not_text(spark):
    """The anti-join/count exchanges must carry 64-bit line hashes, not
    the line text: at 100 TB the text payload dominates the shuffle. The
    only exchange allowed to carry the text column is the final doc-keyed
    reassembly join of the source rows."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc"), (3, "a\nd")],
        "doc_id long, text string",
    )
    out = remove_boilerplate_lines(df, "text", "doc_id", min_docs=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__line" not in plan  # no exploded text column anywhere
    assert "__h" in plan
    rows = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert rows == {1: "b", 2: "c", 3: "d"}


def test_remove_boilerplate_broadcast_guard(spark):
    """The boiler set is never collected to the driver. AQE broadcasts a
    small set at runtime into a map-side anti-join (the static plan
    cannot size an exploded aggregate); above the broadcast threshold the
    same anti-join stays a shuffle. Engine switches are not options:
    ``strategy=`` is gone."""
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )

    def plan():
        out = remove_boilerplate_lines(df, "text", "doc_id", min_docs=2)
        assert {r["doc_id"]: r["clean_text"] for r in out.collect()} == {
            1: "b",
            2: "c",
        }
        return out._jdf.queryExecution().executedPlan().toString()

    small = plan()
    assert "BroadcastHashJoin" in small and "LeftAnti" in small
    conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        large = plan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
    assert "BroadcastHashJoin" not in large and "LeftAnti" in large
    with _pytest.raises(TypeError, match="strategy"):
        remove_boilerplate_lines(df, "text", "doc_id", strategy="join")


def test_remove_fixed_boilerplate_expr_and_pandas_paths(spark):
    """Both branches (codegen array_contains and the Arrow frozenset
    probe) return the family contract and identical rows."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_fixed_boilerplate,
    )

    df = spark.createDataFrame(
        [(1, "nav\nbody\nfooter"), (2, "x\nnav"), (3, None)],
        "doc_id long, text string",
    )
    want = {1: ("body", 1, 2), 2: ("x", 1, 1), 3: ("", 1, 0)}
    for thresh in (256, 0):  # expr path, then pandas path
        got = {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
            for r in remove_fixed_boilerplate(
                df, ["nav", "footer"], "text", "doc_id",
                expr_threshold=thresh,
            ).collect()
        }
        assert got == want, thresh


def test_remove_fixed_boilerplate_df_input_and_guards(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        remove_fixed_boilerplate,
    )

    df = spark.createDataFrame(
        [(1, "nav\nbody")], "doc_id long, text string"
    )
    lines = spark.createDataFrame([("nav",), (None,)], ["line"])
    got = remove_fixed_boilerplate(df, lines, "text", "doc_id").collect()
    assert got[0]["clean_text"] == "body"
    # empty set: everything survives
    none = remove_fixed_boilerplate(df, [], "text", "doc_id").collect()
    assert none[0]["n_removed"] == 0
    with _pytest.raises(ValueError, match="max_lines"):
        remove_fixed_boilerplate(
            df, ["a", "b"], "text", "doc_id", max_lines=1
        )
    with _pytest.raises(ValueError, match="1 column"):
        remove_fixed_boilerplate(
            df, df, "text", "doc_id"
        )
    with _pytest.raises(ValueError, match="delimiter"):
        remove_fixed_boilerplate(df, ["a"], "text", "doc_id", delimiter="")


def test_remove_fixed_boilerplate_zero_shuffle_plan(spark):
    """Stateless map-side only — the stream-safety precondition."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_fixed_boilerplate,
    )

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = (
        remove_fixed_boilerplate(df, ["a"], "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-Python ever


def test_remove_fixed_boilerplate_matches_discovered_set(spark):
    """Feeding the batch-discovered boiler set into the fixed variant
    reproduces remove_boilerplate_lines exactly — the precompute-then-
    stream workflow."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
        remove_fixed_boilerplate,
    )

    df = spark.createDataFrame(
        [
            (1, "nav\nreal one\nfooter"),
            (2, "nav\nother\nfooter"),
            (3, "nav\nfooter\nmore"),
        ],
        "doc_id long, text string",
    )
    batch = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_boilerplate_lines(
            df, "text", "doc_id", min_docs=3
        ).collect()
    }
    fixed = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_fixed_boilerplate(
            df, ["nav", "footer"], "text", "doc_id"
        ).collect()
    }
    assert fixed == batch


def test_dedup_lines_within_doc_null_and_pathological(spark):
    """NULL text is well-defined (counts never negative) and a 100k-line
    document dedups without a quadratic blowup (array_distinct is a
    hash-set pass, not O(n^2) compares)."""
    import time

    from polars_nexpresso_spark.functions.dedup import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        [(1, None)], "doc_id long, text string"
    )
    row = dedup_lines_within_doc(df, "text", "doc_id").collect()[0]
    assert (row["clean_text"], row["n_kept"], row["n_removed"]) == ("", 1, 0)

    big = "\n".join(str(i % 1000) for i in range(100_000))
    bdf = spark.createDataFrame([(1, big)], "doc_id long, text string")
    t0 = time.time()
    out = dedup_lines_within_doc(bdf, "text", "doc_id").collect()[0]
    assert out["n_kept"] == 1000
    assert out["n_removed"] == 99_000
    assert time.time() - t0 < 30  # seconds, not the hours O(n^2) implies


def test_remove_fixed_boilerplate_on_actual_stream(spark):
    """Runs unchanged on a real readStream (availableNow drain): the
    fixed-set variant is stateless/broadcast-dictionary, so stream rows
    equal the static run row-for-row — for both the codegen and the
    Arrow-probe branches."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.dedup import (
        remove_fixed_boilerplate,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    boiler = ["the", "and", "of"]
    tmp = tempfile.mkdtemp(prefix="pns_fixedboiler_stream_")
    try:
        docs.repartition(3).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        for thresh in (256, 0):
            expected = {
                (r["doc_id"], r["clean_text"], r["n_kept"], r["n_removed"])
                for r in remove_fixed_boilerplate(
                    static, boiler, "text", "doc_id", delimiter=" ",
                    expr_threshold=thresh,
                ).collect()
            }
            stream = spark.readStream.schema(static.schema).parquet(
                f"{tmp}/in"
            )
            out = remove_fixed_boilerplate(
                stream, boiler, "text", "doc_id", delimiter=" ",
                expr_threshold=thresh,
            )
            assert out.isStreaming
            name = f"fixedboiler_out_{thresh}"
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = {
                (r["doc_id"], r["clean_text"], r["n_kept"], r["n_removed"])
                for r in spark.table(name).collect()
            }
            assert got == expected, thresh
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_take_token_budget_bucket_count_invariance(spark):
    """Bucketing is an execution detail: the selected set must be
    IDENTICAL for any n_buckets (bucket order must equal hash order —
    exact integer division; float floor drifts one bucket near 60-bit
    boundaries and would flip membership at the cutoff)."""
    from polars_nexpresso_spark.functions.sampling import take_token_budget

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 11))) for i in range(300)],
        ["doc_id", "text"],
    )
    runs = [
        {
            (r["doc_id"], r["cum_tokens"])
            for r in take_token_budget(
                docs, "text", "doc_id", budget=500, n_buckets=nb
            ).collect()
        }
        for nb in (1, 7, 64, 1024)
    ]
    assert all(s == runs[0] for s in runs[1:])
    assert runs[0]


def test_auto_centroid_count_scales_with_corpus(spark):
    from polars_nexpresso_spark.functions.similarity import (
        auto_centroid_count,
        semantic_dedup,
    )

    # floor for tiny corpora, then linear-ish growth targeting ~4k/cell
    assert auto_centroid_count(0) == 16
    assert auto_centroid_count(1000) == 16
    assert auto_centroid_count(65_536) == 16
    assert auto_centroid_count(409_600) == 100
    assert auto_centroid_count(40_960_000) == 10_000
    assert auto_centroid_count(100, target_cluster_size=10, floor=2) == 10

    # the default path derives k from the input (floor here) and stays
    # correct: same keeps as the explicit-16 call on a small corpus
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    auto = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(emb, threshold=0.95).collect()
    }
    assert auto == {1: True, 2: False, 3: True}


def test_semantic_dedup_persists_assignment_once(spark):
    """The centroid-assignment table is cached before the self-join:
    the a/b branches and the keep-join all read InMemoryTableScan
    instead of recomputing the k-way nearest-cell sort ~3x (the same
    exchange-reuse gap hamming_pairs caches its chunk table against)."""
    from polars_nexpresso_spark.functions.dedup import (
        release_blocking_caches,
    )
    from polars_nexpresso_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(6)],
        ["vec_id", "embedding"],
    )
    try:
        df = semantic_dedup(emb, n_centroids=2, threshold=0.99)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert df.count() == 6
    finally:
        release_blocking_caches()


def test_keep_best_in_clusters_election(spark):
    """Argmax per cluster: highest score wins, ties break to smallest
    id, NULL scores lose to any real score, all-NULL clusters fall back
    to min-id, singletons keep themselves."""
    from polars_nexpresso_spark.functions.dedup import (
        keep_best_in_clusters,
    )

    docs = spark.createDataFrame(
        [
            (1, 5.0), (2, 9.0), (3, 9.0),      # cluster 1: tie 2 vs 3 -> 2
            (4, None), (5, 1.0),               # cluster 4: NULL loses -> 5
            (6, None), (7, None),              # cluster 6: all NULL -> 6
            (8, 0.0),                          # singleton -> itself
        ],
        "doc_id long, q double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 6), (8, 8)],
        "doc_id long, cluster_id long",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in keep_best_in_clusters(docs, clusters, "doc_id", "q").collect()
    }
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),
        4: (4, False), 5: (4, True),
        6: (6, True), 7: (6, False),
        8: (8, True),
    }


def test_keep_best_in_clusters_no_window_no_text(spark):
    """The election is a min_by aggregation with a map-side partial
    phase, not a window sort; the text column never leaves the source
    scan (only id + score move); and the docs join is computed once
    (the keep flag attaches to the labeling, not the scored join)."""
    from polars_nexpresso_spark.functions.dedup import (
        keep_best_in_clusters,
    )

    docs = spark.createDataFrame(
        [(1, "payload a", 3.0), (2, "payload b", 4.0)],
        "doc_id long, text string, q double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    out = keep_best_in_clusters(docs, clusters, "doc_id", "q")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p
    assert "partial_min_by" in p
    for line in p.splitlines():
        if "text#" in line:
            assert "Scan" in line, f"text moved past the scan: {line}"
    # one scored docs join, not two
    assert p.count("__score") <= 4  # project + partial/final agg refs


def test_mine_hard_negatives_excludes_positives_and_self(spark):
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # closest to 0, but a positive
            (2, [0.8, 0.2]),   # hardest true negative
            (3, [0.0, 1.0]),   # far negative
        ],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter("vec_id = 0")
    positives = spark.createDataFrame(
        [(0, 1)], "query_id long, doc_id long"
    )
    rows = mine_hard_negatives(emb, queries, positives, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in rows] == [(2, 1), (3, 2)]

    # A query with NO positives row still mines (left join -> empty set),
    # excluding only itself.
    rows2 = mine_hard_negatives(
        emb,
        emb.filter("vec_id = 3"),
        positives,
        k=3,
    ).collect()
    assert sorted(r["neighbor_id"] for r in rows2) == [0, 1, 2]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        mine_hard_negatives(emb, queries, positives, k=0)


def test_mine_hard_negatives_broadcasts_queries(spark):
    """Same scale contract as cosine_topk: the queries and their positive
    sets ride the kernel's closure, so the corpus is scanned by one
    MapInPandas with no join and never shuffles before scoring."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    positives = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, doc_id long"
    )
    out = mine_hard_negatives(
        emb, emb.filter("vec_id < 2"), positives, k=3
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInPandas") == 1
    assert p.count("Exchange") == 1
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_remove_duplicated_windows_semantics(spark):
    """Canonical-first survives, later occurrences strip, within-doc
    repetition counts, short/NULL docs pass through, overlapping dup
    occurrences may eat into the canonical span (documented)."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_duplicated_windows,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),
            (2, "q q a b c d e t"),
            (3, "short"),
            (4, None),
            (5, "r r r r r r r r"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_duplicated_windows(
            docs, "text", "doc_id", window=4
        ).collect()
    }
    assert got[1] == ("a b c d e x y z", 8, 0)   # first occurrence kept
    assert got[2] == ("q q t", 3, 5)             # later occurrence stripped
    assert got[3] == ("short", 1, 0)             # shorter than window
    assert got[4] == ("", 1, 0)                  # NULL text == ""
    assert got[5] == ("r", 1, 7)                 # within-doc repeats

    hard = {
        r["doc_id"]: r["n_kept"]
        for r in remove_duplicated_windows(
            docs, "text", "doc_id", window=4, keep_first=False
        ).collect()
    }
    assert hard[1] == 3 and hard[5] == 0  # no canonical survivor

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        remove_duplicated_windows(docs, "text", "doc_id", window=0)
    with _pytest.raises(ValueError, match="delimiter"):
        remove_duplicated_windows(docs, "text", "doc_id", delimiter="")


def test_remove_duplicated_windows_exchanges_carry_no_text(spark, tmp_path):
    """Every exchange in the plan carries (doc, pos, hash) or the small
    removal arrays — the text column appears only at the scan and the
    final doc-keyed reassembly join."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_duplicated_windows,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w x y z " * 4) for i in range(8)], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = remove_duplicated_windows(docs, "text", "doc_id", window=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the aggregations run on hashed occurrences, not window text
    assert "xxhash64" in plan
    assert "Window" not in plan  # no window function anywhere


def test_temperature_mix_weights_properties(spark):
    """alpha=1 keeps the natural mix (all weights 1); alpha=0 targets
    uniform; in between, smaller sources get boosted relative share and
    the largest source anchors weight 1."""
    from polars_nexpresso_spark.functions.sampling import (
        temperature_mix_weights,
    )

    docs = spark.createDataFrame(
        [(i, "big " * 9, "big") for i in range(9)]
        + [(100, "small", "small")],
        "doc_id long, text string, source string",
    )
    natural = {
        r["source"]: r["weight"]
        for r in temperature_mix_weights(
            docs, "text", "source", alpha=1.0
        ).collect()
    }
    assert natural == {"big": 1.0, "small": 1.0}

    uniform = {
        r["source"]: r["target_share"]
        for r in temperature_mix_weights(
            docs, "text", "source", alpha=0.0
        ).collect()
    }
    assert uniform == {"big": 0.5, "small": 0.5}

    mid = {
        r["source"]: r
        for r in temperature_mix_weights(
            docs, "text", "source", alpha=0.3
        ).collect()
    }
    # the small source's target share exceeds its token share; the big
    # source is the one being downsampled (weight 1 anchors the SMALL
    # side since its ratio is the max)
    assert mid["small"]["target_share"] > mid["small"]["token_share"]
    assert mid["big"]["weight"] < 1.0
    assert mid["small"]["weight"] == 1.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix_weights(docs, "text", "source", alpha=1.5)


def test_leakage_free_split_clusters_never_straddle(spark):
    """Every member of a near-dup cluster lands on the same side —
    the property the composition exists for."""
    from polars_nexpresso_spark.functions.dedup import dedup_clusters
    from polars_nexpresso_spark.functions.sampling import hash_split

    nodes = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    clusters = dedup_clusters(nodes, pairs, "doc_id")
    split = hash_split(clusters, "cluster_id")
    per_cluster = (
        split.groupBy("cluster_id")
        .agg({"split": "collect_set"})
        .collect()
    )
    assert all(len(r["collect_set(split)"]) == 1 for r in per_cluster)


def test_mine_hard_negatives_ivf_engine(spark):
    """The IVF engine returns the same negatives as exact when every
    cell is probed (n_probe == n_centroids => full candidate coverage),
    over-fetch absorbs the positives, and validation fires."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter("vec_id < 3")
    positives = spark.createDataFrame(
        [(q, d) for q in range(3) for d in range(30) if d % 5 == q % 5],
        "query_id long, doc_id long",
    )
    exact = mine_hard_negatives(emb, queries, positives, k=4).collect()
    ann = mine_hard_negatives(
        emb,
        queries,
        positives,
        k=4,
        engine="ivf",
        n_centroids=4,
        n_probe=4,
        max_positives=30,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact]
    ) == sorted([(r["query_id"], r["neighbor_id"], r["rank"]) for r in ann])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="engine"):
        mine_hard_negatives(emb, queries, positives, engine="lsh")


def test_mine_hard_negatives_ivfpq_engine(spark):
    """The compressed engine's output is true-cosine scored (every
    returned score equals the exact engine's score for that pair —
    only candidate MEMBERSHIP is approximate), never contains a
    positive or the query itself, and respects the k bound."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spark.createDataFrame(
        [
            (i, [float((i * 13 + j * 7) % 11) - 5.0 for j in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter("vec_id < 3")
    positives = spark.createDataFrame(
        [(q, d) for q in range(3) for d in range(40) if d % 5 == q % 5],
        "query_id long, doc_id long",
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in mine_hard_negatives(
            emb, queries, positives, k=40, max_positives=40
        ).collect()
    }
    pos = {(q, d) for q in range(3) for d in range(40) if d % 5 == q % 5}
    rows = mine_hard_negatives(
        emb,
        queries,
        positives,
        k=4,
        engine="ivfpq",
        n_centroids=4,
        n_probe=2,
        max_positives=40,
        m=4,
        n_codes=8,
    ).collect()
    assert rows, "ivfpq engine returned nothing"
    per_q = {}
    for r in rows:
        pair = (r["query_id"], r["neighbor_id"])
        assert pair not in pos and r["query_id"] != r["neighbor_id"], pair
        assert r["cosine"] == exact[pair], pair
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 4 for v in per_q.values())


def test_audio_fingerprint_matches_closed_form(spark):
    """The REAL wave-decode fingerprint equals the closed-form replay
    (the oracle's arithmetic), an identical blob pairs at hamming 0,
    and the 16-bit PCM path downshifts to the same 0-255 grid."""
    import io
    import wave as _wave

    import numpy as _np

    from polars_nexpresso_spark.functions.dedup import hamming_pairs
    from polars_nexpresso_spark.functions.multimodal import (
        audio_fingerprint,
        synth_wav,
    )

    ids = spark.createDataFrame([(i,) for i in (3, 7, 3000)], "media_id long")
    media = synth_wav(ids, sample_rate=8000, n_base=100, n_mod=50)
    got = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprint(media, fake=False).collect()
    }

    def closed_form(mid):
        n = 100 + mid % 50
        s = _np.array(
            [(mid * 31 + i * 7) % 256 for i in range(n)], dtype=_np.int64
        )
        b = [(w * n) // 61 for w in range(62)]
        e = [int(s[b[w] : b[w + 1]].sum()) for w in range(61)]
        return sum(1 << i for i in range(60) if e[i + 1] >= e[i])

    assert got == {m: closed_form(m) for m in (3, 7, 3000)}

    # ids 3 and 3000 share n (mod 50) but differ in content; an exact
    # byte-duplicate of id 3 under a new id must pair at hamming 0
    dup = spark.createDataFrame([(3,), (9003,)], "media_id long")
    blobs = synth_wav(
        dup.selectExpr("media_id % 9000 AS media_id"),
        sample_rate=8000, n_base=100, n_mod=50,
    ).collect()
    two = spark.createDataFrame(
        [(3, bytes(blobs[0]["content"])), (9003, bytes(blobs[1]["content"]))],
        "media_id long, content binary",
    )
    pairs = hamming_pairs(
        audio_fingerprint(two, fake=False), "afp", "media_id", bits=60
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [
        (3, 9003, 0)
    ]

    # 16-bit PCM: samples s<<8 - 32768 downshift back to the same grid
    raw8 = bytes((5 * 31 + i * 7) % 256 for i in range(100))
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        arr16 = (
            _np.frombuffer(raw8, dtype=_np.uint8).astype(_np.int64) - 128
        ) << 8
        w.writeframes(arr16.astype("<i2").tobytes())
    df16 = spark.createDataFrame(
        [(5, buf.getvalue())], "media_id long, content binary"
    )
    got16 = audio_fingerprint(df16, fake=False).collect()[0]["afp"]
    raw_df = spark.createDataFrame(
        [(5, raw8)], "media_id long, content binary"
    )
    assert got16 == audio_fingerprint(raw_df, fake=True).collect()[0]["afp"]


def test_token_shift_topk_semantics(spark):
    """JS contributions are non-negative, direction tracks growth, an
    identical corpus yields ~zero divergence everywhere, and a token
    absent from one side contributes its full mass."""
    from polars_nexpresso_spark.functions.text import token_shift_topk

    old = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "alpha gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(3, "alpha delta delta"), (4, "delta gamma")], ["doc_id", "text"]
    )
    rows = token_shift_topk(old, new, "text", k=10).collect()
    by_tok = {r["token"]: r for r in rows}
    assert all(r["js_contrib"] >= 0 for r in rows)
    # delta appeared (growth), beta vanished (shrink), and both rank
    # above the stable gamma
    assert by_tok["delta"]["direction"] == 1
    assert by_tok["beta"]["direction"] == -1
    assert by_tok["delta"]["js_contrib"] > by_tok["gamma"]["js_contrib"]
    assert by_tok["beta"]["js_contrib"] > by_tok["gamma"]["js_contrib"]
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))

    same = token_shift_topk(old, old, "text", k=10).collect()
    assert all(abs(r["js_contrib"]) < 1e-9 for r in same)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        token_shift_topk(old, new, "text", k=0)
    with _pytest.raises(ValueError, match="alpha"):
        token_shift_topk(old, new, "text", alpha=0)


# --- persisted dedup index ---------------------------------------------------


_LONG = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "migrating geese assemble near the frozen river bank and three "
    "patient fishermen compare notes about the morning catch before "
    "the village market opens its heavy wooden gates to travelers "
    "arriving from distant provinces carrying spices cloth and news"
)


def test_dedup_index_roundtrip(spark, tmp_path):
    """Build the index once, then dedup a new batch against it: exact
    variants and near-duplicates of reference docs are dropped, fresh
    and NULL-text rows survive, and within-batch duplicates are NOT
    this operator's job (both copies survive if absent from the ref)."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    ref = spark.createDataFrame(
        [(100, _LONG), (101, "completely different reference text here")],
        ["doc_id", "text"],
    )
    near = _LONG.replace("seventeen", "nineteen")  # one token changed
    batch = spark.createDataFrame(
        [
            (1, _LONG.upper()),          # exact after normalization
            (2, near),                   # near-dup of ref 100
            (3, "a genuinely fresh document about something else"),
            (4, None),                   # NULL text always survives
            (5, "twin batch doc"),       # within-batch dup pair:
            (6, "twin batch doc"),       # both survive (not in ref)
        ],
        "doc_id long, text string",
    )
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx",
        num_buckets=4, path=str(tmp_path / "didx"),
    )
    try:
        out = dedup_against_index(batch, "text", "doc_id", "pns_test_didx")
        assert sorted(r["doc_id"] for r in out.collect()) == [3, 4, 5, 6]
        # schema passes through unchanged
        assert out.columns == batch.columns
    finally:
        for t in ("pns_test_didx_fp", "pns_test_didx_lsh",
                  "pns_test_didx_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_index_legacy_meta_fallback_and_rebuild_drop(spark, tmp_path):
    """ADVICE r13: a pre-r13 index (TBLPROPERTIES absent, legacy
    ``_meta`` table present) must resolve geometry through the fallback
    — probes keep working, conflicting explicit parameters fail fast —
    and REBUILDING over it must drop the stale ``_meta`` shadow so a
    later props loss can never resurrect the old geometry."""
    from polars_nexpresso_spark.functions.dedup import (
        _resolve_index_geometry,
        build_dedup_index,
        dedup_against_index,
    )

    ref = spark.createDataFrame([(100, _LONG)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, _LONG.upper()), (3, "a genuinely fresh document here")],
        "doc_id long, text string",
    )
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx_m",
        n=4, num_hashes=24, bands=6, num_buckets=2,
        path=str(tmp_path / "didxm"),
    )
    try:
        # Simulate the legacy layout: props lost, one-row _meta present.
        spark.sql(
            "ALTER TABLE `pns_test_didx_m_lsh` UNSET TBLPROPERTIES "
            "('pns.dedup.n', 'pns.dedup.num_hashes', 'pns.dedup.bands')"
        )
        spark.createDataFrame(
            [(4, 24, 6)], "n int, num_hashes int, bands int"
        ).write.saveAsTable("pns_test_didx_m_meta")
        assert _resolve_index_geometry(
            spark, "pns_test_didx_m", None, None, None
        ) == (4, 24, 6)
        out = dedup_against_index(batch, "text", "doc_id", "pns_test_didx_m")
        assert sorted(r["doc_id"] for r in out.collect()) == [3]
        with pytest.raises(ValueError, match="was built with"):
            _resolve_index_geometry(spark, "pns_test_didx_m", 3, None, None)
        # Rebuild over the legacy index: stale shadow dropped, new props win.
        build_dedup_index(
            ref, "text", "doc_id", "pns_test_didx_m",
            n=5, num_hashes=24, bands=6, num_buckets=2,
            path=str(tmp_path / "didxm2"),
        )
        assert not spark.catalog.tableExists("pns_test_didx_m_meta")
        assert _resolve_index_geometry(
            spark, "pns_test_didx_m", None, None, None
        ) == (5, 24, 6)
    finally:
        for t in ("pns_test_didx_m_fp", "pns_test_didx_m_lsh",
                  "pns_test_didx_m_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_index_matches_reference_dedup_plus_lsh(spark, tmp_path):
    """On data where minhash estimation is decisive (planted j≈1 and
    j≈0 only), the index survivors equal dedup_against_reference's
    exact stage minus the LSH-verified near-dups — the two paths agree
    on every doc."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_against_reference,
    )

    docs = [(i, f"{_LONG} variant tail {i}") for i in range(6)]
    ref = spark.createDataFrame(docs[:3], ["doc_id", "text"])
    batch = spark.createDataFrame(
        docs + [(99, "unrelated short text")], ["doc_id", "text"]
    )
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx2",
        num_buckets=4, path=str(tmp_path / "didx2"),
    )
    try:
        got = {
            r["doc_id"]
            for r in dedup_against_index(
                batch, "text", "doc_id", "pns_test_didx2", threshold=0.95
            ).collect()
        }
        exact_survivors = {
            r["doc_id"]
            for r in dedup_against_reference(batch, ref, "text").collect()
        }
        # every "variant tail i" doc is a near-dup of the ref trio at
        # j≈0.98 — the index drops them all; the unrelated doc survives
        assert got == {99}
        assert got <= exact_survivors
    finally:
        for t in ("pns_test_didx2_fp", "pns_test_didx2_lsh",
                  "pns_test_didx2_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_index_validates(spark):
    import pytest as _pytest

    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="divisible"):
        build_dedup_index(df, "text", "doc_id", "t", num_hashes=10, bands=3)
    with _pytest.raises(ValueError, match="divisible"):
        dedup_against_index(df, "text", "doc_id", "t", num_hashes=10, bands=3)
    with _pytest.raises(ValueError, match="threshold"):
        dedup_against_index(df, "text", "doc_id", "t", threshold=0.0)


def test_extend_dedup_index_equals_rebuild(spark, tmp_path):
    """Appending a second reference batch must give the same probe
    verdicts as rebuilding the index over both batches, keep the fp
    table duplicate-free, and preserve the bucketed layout."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )

    batch1 = spark.createDataFrame(
        [(100, _LONG)], ["doc_id", "text"]
    )
    batch2 = spark.createDataFrame(
        [(200, "completely different reference text here"),
         (201, _LONG)],  # content already indexed -> no new fp row
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [
            (1, _LONG.upper()),                               # dup of b1
            (2, "completely  DIFFERENT reference text here"), # dup of b2
            (3, _LONG.replace("seventeen", "nineteen")),      # near-dup b1
            (4, "a fresh document about something else"),
        ],
        "doc_id long, text string",
    )
    build_dedup_index(
        batch1, "text", "doc_id", "pns_test_didx_e",
        num_buckets=4, path=str(tmp_path / "e1"),
    )
    build_dedup_index(
        batch1.unionByName(batch2), "text", "doc_id", "pns_test_didx_r",
        num_buckets=4, path=str(tmp_path / "r"),
    )
    try:
        extend_dedup_index(batch2, "text", "doc_id", "pns_test_didx_e")
        got = sorted(
            r["doc_id"]
            for r in dedup_against_index(
                probe, "text", "doc_id", "pns_test_didx_e"
            ).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in dedup_against_index(
                probe, "text", "doc_id", "pns_test_didx_r"
            ).collect()
        )
        assert got == want == [4]
        # duplicate content added no second fp row
        fp = spark.table("pns_test_didx_e_fp")
        assert fp.count() == fp.distinct().count() == 2
        # geometry mismatch fails fast
        import pytest as _pytest

        with _pytest.raises(ValueError, match="num_hashes"):
            extend_dedup_index(
                batch2, "text", "doc_id", "pns_test_didx_e",
                num_hashes=16, bands=8,
            )
    finally:
        for t in ("pns_test_didx_e_fp", "pns_test_didx_e_lsh",
                  "pns_test_didx_e_meta", "pns_test_didx_r_fp",
                  "pns_test_didx_r_lsh", "pns_test_didx_r_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_extend_dedup_index_snapshots_probe_derived_batch(spark, tmp_path):
    """The daily loop's exact footgun: extend a dedup index with the
    LAZY survivors of probing that same index. The internal
    localCheckpoint must snapshot the batch BEFORE the fp append —
    without it, the append recaches the probe plan, the batch
    re-evaluates to empty mid-function, and the LSH table silently
    gets no rows (the original round-8 bug)."""
    from pyspark.sql import functions as F

    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )

    ref = spark.createDataFrame([(1, _LONG)], ["doc_id", "text"])
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx_s",
        num_buckets=4, path=str(tmp_path / "s"),
    )
    try:
        batch = spark.createDataFrame(
            [(10, "a brand new document about training pipelines")],
            ["doc_id", "text"],
        )
        survivors = dedup_against_index(  # LAZY, probes the index
            batch, "text", "doc_id", "pns_test_didx_s"
        )
        extend_dedup_index(survivors, "text", "doc_id", "pns_test_didx_s")
        lsh_rows = (
            spark.table("pns_test_didx_s_lsh")
            .filter(F.col("ref_id") == 10)
            .count()
        )
        assert lsh_rows == 8  # one row per band — the LSH append landed
        # and a near-dup of the appended doc is now caught
        probe = spark.createDataFrame(
            [(20, "a brand new document about training pipes")],
            ["doc_id", "text"],
        )
        out = dedup_against_index(probe, "text", "doc_id", "pns_test_didx_s")
        assert out.count() <= 1  # exactness aside: no crash, index coherent
    finally:
        for t in ("pns_test_didx_s_fp", "pns_test_didx_s_lsh",
                  "pns_test_didx_s_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_dedup_index_same_verdicts_fewer_files(spark, tmp_path):
    """After two extends the fp/lsh tables hold one small file per
    bucket per append; compaction rewrites the layout while every probe
    verdict stays identical, the bucket count is preserved from the
    catalog (no num_buckets passed), and the file count strictly
    drops — the LSM contract, dedup-index edition."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        compact_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )
    from polars_nexpresso_spark.sources.io import catalog_num_buckets

    batch1 = spark.createDataFrame([(100, _LONG)], ["doc_id", "text"])
    batch2 = spark.createDataFrame(
        [(200, "completely different reference text here")],
        ["doc_id", "text"],
    )
    batch3 = spark.createDataFrame(
        [(300, "a third day of reference material arrives")],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [
            (1, _LONG.upper()),                                # dup b1
            (2, "completely  DIFFERENT reference text here"),  # dup b2
            (3, "a third day of reference material arrives"),  # dup b3
            (4, "a fresh document about something else"),
        ],
        "doc_id long, text string",
    )
    build_dedup_index(
        batch1, "text", "doc_id", "pns_test_didx_c",
        num_buckets=4, path=str(tmp_path / "c"),
    )
    try:
        extend_dedup_index(batch2, "text", "doc_id", "pns_test_didx_c")
        extend_dedup_index(batch3, "text", "doc_id", "pns_test_didx_c")
        before = sorted(
            r["doc_id"]
            for r in dedup_against_index(
                probe, "text", "doc_id", "pns_test_didx_c"
            ).collect()
        )
        report = compact_dedup_index(
            spark, "pns_test_didx_c", path=str(tmp_path / "c_compact")
        )
        after = sorted(
            r["doc_id"]
            for r in dedup_against_index(
                probe, "text", "doc_id", "pns_test_didx_c"
            ).collect()
        )
        assert after == before == [4]
        assert report["files_after"] < report["files_before"]
        assert report["fp_rows"] == 3
        # build-time bucketing spec preserved without passing it
        assert catalog_num_buckets(spark, "pns_test_didx_c_fp") == 4
        assert catalog_num_buckets(spark, "pns_test_didx_c_lsh") == 4
        # fp table stays duplicate-free
        fp = spark.table("pns_test_didx_c_fp")
        assert fp.count() == fp.distinct().count() == 3
        # external index + no path: fail fast instead of silently
        # rewriting as managed tables and stranding the external files
        with pytest.raises(ValueError, match="EXTERNAL"):
            compact_dedup_index(spark, "pns_test_didx_c")
    finally:
        for t in ("pns_test_didx_c_fp", "pns_test_didx_c_lsh",
                  "pns_test_didx_c_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stateless_signature_matches_grouped_min(spark):
    """The stream probe's pure-projection minhash signature must equal
    minhash_signatures' explode + grouped-min values component-wise on
    real documents (incl. empty/short texts) — the parity that makes
    batch and stream probe decisions identical by construction."""
    from polars_nexpresso_spark.functions.dedup import (
        _stateless_sig_frame,
        minhash_signatures,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    want = {
        r["__id"]: [r[f"mh_{i}"] for i in range(16)]
        for r in minhash_signatures(
            docs, "text", "doc_id", n=3, num_hashes=16
        ).collect()
    }
    got = {
        r["doc_id"]: list(r["__pns_sig"])
        for r in _stateless_sig_frame(
            docs, "text", n=3, num_hashes=16, bands=4
        )
        .select("doc_id", "__pns_sig")
        .collect()
    }
    assert got == want
    # and the projection really is stateless: no Exchange anywhere
    staged = _stateless_sig_frame(docs, "text", n=3, num_hashes=16, bands=4)
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dedup_index_stream_matches_batch_probe(spark, tmp_path):
    """The stream probe keeps exactly the batch probe's survivors —
    exact dup dropped, near dup dropped, fresh + NULL-text kept — both
    as a batch frame and on a real readStream (availableNow drain)."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_against_index_stream,
    )

    ref = spark.createDataFrame(
        [(100, _LONG), (200, "completely different reference text here")],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [
            (1, _LONG.upper()),                                # exact dup
            (2, _LONG.replace("seventeen", "nineteen")),       # near dup
            (3, "a fresh document about something else"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx_st",
        num_buckets=4, path=str(tmp_path / "st"),
    )
    tmp = tempfile.mkdtemp(prefix="pns_didx_stream_")
    try:
        expected = sorted(
            r["doc_id"]
            for r in dedup_against_index(
                probe, "text", "doc_id", "pns_test_didx_st"
            ).collect()
        )
        got_batch = sorted(
            r["doc_id"]
            for r in dedup_against_index_stream(
                probe, "text", "pns_test_didx_st"
            ).collect()
        )
        assert got_batch == expected == [3, 4, 5]
        # schema unchanged, helper columns dropped
        out = dedup_against_index_stream(probe, "text", "pns_test_didx_st")
        assert out.columns == probe.columns
        # join-free, shuffle-free: the whole probe is map-side
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan

        probe.repartition(2).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = spark.readStream.schema(probe.schema).parquet(f"{tmp}/in")
        kept = dedup_against_index_stream(stream, "text", "pns_test_didx_st")
        assert kept.isStreaming
        q = (
            kept.select("doc_id")
            .writeStream.format("memory")
            .queryName("didx_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_stream = sorted(
            r["doc_id"] for r in spark.table("didx_stream_out").collect()
        )
        assert got_stream == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        for t in ("pns_test_didx_st_fp", "pns_test_didx_st_lsh",
                  "pns_test_didx_st_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_index_stream_size_guard_and_validation(spark, tmp_path):
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index_stream,
    )

    ref = spark.createDataFrame([(1, _LONG)], ["doc_id", "text"])
    build_dedup_index(
        ref, "text", "doc_id", "pns_test_didx_g",
        num_buckets=2, path=str(tmp_path / "g"),
    )
    try:
        with pytest.raises(ValueError, match="max_index_rows"):
            dedup_against_index_stream(
                ref, "text", "pns_test_didx_g", max_index_rows=3
            )
        with pytest.raises(ValueError, match="threshold"):
            dedup_against_index_stream(
                ref, "text", "pns_test_didx_g", threshold=0.0
            )
        with pytest.raises(ValueError, match="column"):
            dedup_against_index_stream(ref, "body", "pns_test_didx_g")
    finally:
        for t in ("pns_test_didx_g_fp", "pns_test_didx_g_lsh",
                  "pns_test_didx_g_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_curriculum_shards_contract(spark):
    """Stages are score terciles, shards split each stage by id hash,
    positions are a deterministic 1..n sequence per (stage, shard) that
    survives repartitioning; NULL scores get a NULL stage, never drop."""
    from polars_nexpresso_spark.functions.sampling import (
        curriculum_shards,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(90)] + [(900, None)],
        "doc_id long, score int",
    )
    out = curriculum_shards(
        df, "score", "doc_id", n_stages=3, n_shards=2
    ).collect()
    assert len(out) == 91
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[900]["stage"] is None
    stages = {r["stage"] for r in out if r["stage"] is not None}
    assert stages == {"stage0", "stage1", "stage2"}
    # stage boundaries respect the score order: every stage0 score <=
    # every stage1 score <= every stage2 score
    s0 = [r["score"] for r in out if r["stage"] == "stage0"]
    s1 = [r["score"] for r in out if r["stage"] == "stage1"]
    s2 = [r["score"] for r in out if r["stage"] == "stage2"]
    assert max(s0) <= min(s1) and max(s1) <= min(s2)
    # positions are 1..n per (stage, shard)
    groups: dict[tuple, list] = {}
    for r in out:
        groups.setdefault((r["stage"], r["shard"]), []).append(r["pos"])
    for pos_list in groups.values():
        assert sorted(pos_list) == list(range(1, len(pos_list) + 1))
    assert {r["shard"] for r in out} == {0, 1}
    # determinism across partitionings
    out2 = curriculum_shards(
        spark.createDataFrame(
            [(i, (i * 37) % 100) for i in range(90)] + [(900, None)],
            "doc_id long, score int",
        ).repartition(13),
        "score", "doc_id", n_stages=3, n_shards=2,
    ).collect()
    assert {(r["doc_id"], r["stage"], r["shard"], r["pos"]) for r in out2} \
        == {(r["doc_id"], r["stage"], r["shard"], r["pos"]) for r in out}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_stages"):
        curriculum_shards(df, "score", "doc_id", n_stages=1)
    with _pytest.raises(ValueError, match="n_shards"):
        curriculum_shards(df, "score", "doc_id", n_shards=0)
