"""Pipeline-extension query catalog: dedup / similarity / text analysis /
multimodal over the ``documents`` and ``embeddings`` tables.

Every oracle replicates the exact computation in DuckDB SQL — including the
md5-derived 60-bit hashes (``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``),
shingling, and the marker-occurrence language scores — so value hashes
match bit-for-bit, not just statistically. LSH-based operators whose output
is approximation-dependent (`lsh_ann_topk`) are rows-only checked.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions._caching import overlap
from polars_nexpresso_spark.functions.dedup import (
    decontaminate,
    decontaminate_stream,
    dedup_clusters,
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from polars_nexpresso_spark.functions.multimodal import extract_features
from polars_nexpresso_spark.functions.sampling import (
    cap_per_group,
    hash_split,
    stratified_sample,
)
from polars_nexpresso_spark.functions.similarity import (
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)
from polars_nexpresso_spark.functions.text import (
    LANG_PROFILES,
    STOPWORDS,
    UNICODE_PUNCT_CLASS as _UPC,
    avg_token_length,
    doc_fingerprint,
    language_id,
    repetition_table,
    simhash_table,
    stopword_ratio,
    token_count,
    unique_token_ratio,
)
from polars_nexpresso_spark.plans.stats import plan_size_bytes
from polars_nexpresso_spark.sources.io import read_table, spread

# Corpus size from which duplicated corpus-bound consumers get pinned: far
# above any local-bench input, far below any production corpus.
_SCALE_PIN_MIN_BYTES = 256 * 1024 * 1024


def _checkpoint_at_scale(df: DataFrame, corpus: DataFrame) -> DataFrame:
    """Pin a shared subtree with ``localCheckpoint`` only when the
    CORPUS it deduplicates scans of is large (r14, guide §2.4 + §1.2).

    The r13 unconditional pin on mmr_diversity_eval's shortlist read
    1.23× at bench scale: locally the duplicated consumers recompute the
    subtree IN PARALLEL inside one job, so serializing an extra eager
    checkpoint job costs more than it saves — while at 100 TB each
    duplicated consumer re-runs a corpus-bound scan and the pin is the
    only sane shape. Gate on the corpus scan's Catalyst estimate
    (:func:`plan_size_bytes` — no job) against ``_SCALE_PIN_MIN_BYTES``.
    Unknown size (Connect, stat-less leaves) skips the pin — the
    unpinned plan is never worse than the pre-r13 shape.
    """
    corpus_bytes = plan_size_bytes(corpus)
    if corpus_bytes is None or corpus_bytes < _SCALE_PIN_MIN_BYTES:
        return df
    return df.localCheckpoint(eager=True)


# Testdata the data-derived oracles (centroid and codebook literals) are
# generated from at import; override for local checks at other scales.
_ORACLE_SF_DIR = os.environ.get("PNS_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# DuckDB fragments shared by several oracles.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
# robust_fingerprint's canonical string (digits collapsed, ASCII punct
# stripped) — ASCII-only classes so Java regex and RE2 agree byte-for-byte
_RCANON = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), "
    "'[0-9]+', '0', 'g'), '[!-/:-@\\[-`{-~]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)
# robust canon with the Unicode-punctuation fold: the SAME literal
# character class the Spark side uses (imported at the top, not
# re-typed, so the two engines can never drift), applied first, then
# the ASCII passes.
_RCANON_U = (
    "trim(regexp_replace(regexp_replace(regexp_replace("
    f"regexp_replace(lower(text), '[{_UPC}]', ' ', 'g'), "
    "'[0-9]+', '0', 'g'), '[!-/:-@\\[-`{-~]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)


def _oracle_dim() -> int | None:
    """Embedding width of the correctness-gate testdata (the dimension the
    data-derived oracles are generated for). Returns None when the
    testdata is unreadable at import — the dim-dependent oracles
    (lsh_ann_topk, label_centroids) are then NOT registered and those
    queries degrade to the driver's rows-only check, mirroring the IVF
    oracle's pattern, instead of registering a wrong-dimension oracle
    that would produce spurious correctness failures."""
    try:
        return _embedding_dim(_ORACLE_SF_DIR)
    except Exception:  # noqa: BLE001 — import must survive missing testdata
        return None


@functools.cache
def _oracle_centroids() -> tuple[tuple[float, ...], ...] | None:
    """The 16 IVF centroids of the oracle testdata's embeddings, trained
    Spark-free once per process and shared (immutable) by every
    centroid-literal oracle; None when the testdata is unreadable at
    import (those queries then fall back to the rows-only check)."""
    try:
        from polars_nexpresso_spark.functions.similarity import (
            kmeans_centroids_local,
        )

        cents = kmeans_centroids_local(
            f"{_ORACLE_SF_DIR}/embeddings.parquet", n_centroids=16
        )
    except Exception:  # noqa: BLE001 — import must survive missing testdata
        return None
    return tuple(map(tuple, cents))


_TOKS = f"string_split({_NORM}, ' ')"
_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks)-2, 1)+1), "
    "i -> array_to_string(list_slice(toks, i, i+2), ' ')))"
)
_HASHES = (
    "list_transform(list_distinct(toks), "
    "t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT))"
)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    text = F.col("text")
    return docs.select(
        F.col("doc_id"),
        token_count(text).cast("bigint").alias("n_tokens"),
        F.round(avg_token_length(text), 4).alias("avg_token_len"),
        F.round(stopword_ratio(text), 4).alias("stopword_ratio"),
        F.round(unique_token_ratio(text), 4).alias("uniq_ratio"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    from polars_nexpresso_spark.functions.text import pad_text

    # Two projections: the regex-normalized padded text materializes once,
    # then 31 marker counts reference it (CollapseProject keeps the split —
    # it refuses to duplicate non-cheap exprs referenced more than once).
    padded = docs.select(F.col("doc_id"), pad_text(F.col("text")).alias("__padded"))
    return padded.select(
        F.col("doc_id"),
        language_id(F.col("__padded"), pre_padded=True).alias("lang_pred"),
    )


def q_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting + order-sensitive rolling-hash
    fingerprint, both as single map-side projections."""
    from polars_nexpresso_spark.functions.text import (
        bpe_token_count,
        rolling_fingerprint,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    text = F.col("text")
    return docs.select(
        F.col("doc_id"),
        bpe_token_count(text).cast("bigint").alias("n_bpe_tokens"),
        rolling_fingerprint(text).alias("fingerprint"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style bigram repetition ratio per document."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    return repetition_table(docs, "text", "doc_id", n=2)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style self-trained bigram LM quality score per document
    (add-0.5-smoothed avg negative log-probability)."""
    from polars_nexpresso_spark.functions.text import ngram_lm_score

    docs = spread(read_table(spark, sf_dir, "documents"))
    return ngram_lm_score(docs, "text", "doc_id", n=2, k=0.5)


def q_lm_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-safe LM scoring: the first half of the corpus (doc_id <
    250) is the reference model, every document gets a map-side
    broadcast-dictionary score — no join, no shuffle, readStream-safe."""
    from polars_nexpresso_spark.functions.text import ngram_lm_score_stream

    docs = spread(read_table(spark, sf_dir, "documents"))
    reference = docs.filter(F.col("doc_id") < 250)
    return ngram_lm_score_stream(docs, reference, "text", n=2, k=0.5).select(
        "doc_id", "n_grams", "avg_neg_logp"
    )


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/Pile-style mixture planning: token-share-aware downsampling
    weights steering the corpus toward a 40/30/30 three-source target."""
    from polars_nexpresso_spark.functions.sampling import source_mix_weights

    docs = spread(read_table(spark, sf_dir, "documents"))
    return source_mix_weights(
        docs, "text", "source", {"src0": 0.4, "src1": 0.3, "src2": 0.3}
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture planning (T5 rule): target shares are
    the observed token shares ^ 0.3, renormalized — boosts small sources
    with no curated target table."""
    from polars_nexpresso_spark.functions.sampling import (
        temperature_mix_weights,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return temperature_mix_weights(docs, "text", "source", alpha=0.3)


def q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split: the md5 split decision hashes the
    near-dup CLUSTER id (from the MinHash+LSH connected components), so
    a document and all its near-duplicates land on the same side — the
    composition that makes held-out evaluation honest. Same split
    arithmetic as ``hash_split``; clusters come from the same pair
    machinery as ``dedup_clusters``."""
    from polars_nexpresso_spark.functions.sampling import hash_split

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    clusters = dedup_clusters(docs, pairs, "doc_id")
    return hash_split(clusters, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


def q_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining on the 100 TB path: IVF candidate
    generation (probe 6 of 16 cells — the candidate join touches ~3/8
    of the corpus instead of all of it), over-fetched so the positive
    filter cannot starve the top-k, then re-ranked in a bounded
    per-query window. Same deterministic k-means as ``ivf_ann_topk``,
    so the oracle re-derives the exact centroids Spark-free."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    positives = (
        queries.select(F.col("vec_id").alias("query_id"), "label")
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "label"),
            on="label",
        )
        .select("query_id", "doc_id")
    )
    return mine_hard_negatives(
        emb,
        queries,
        positives,
        k=5,
        engine="ivf",
        n_centroids=16,
        n_probe=6,
        max_positives=64,
    )


def q_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the 4x-smaller-shuffle
    embedding path; integer scoring arithmetic makes even this
    approximation exactly oracle-checkable."""
    from polars_nexpresso_spark.functions.similarity import cosine_topk_int8

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_int8(emb, queries, k=5)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    return exact_dedup(docs, "text", "doc_id")


def q_robust_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the canonicalized fingerprint (digits collapsed,
    ASCII punctuation stripped): merges timestamp/counter/id variants
    of one page at plain exact-dedup cost — one map-side expression,
    one groupBy shuffle. All-ASCII regex classes keep the Java-regex /
    RE2 canonical strings byte-identical, so the md5 keys replay
    hash-exact in the oracle."""
    from polars_nexpresso_spark.functions.dedup import robust_dedup

    docs = spread(read_table(spark, sf_dir, "documents"))
    return robust_dedup(docs, "text", "doc_id")


def q_robust_dedup_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`robust_dedup` with the Unicode-punctuation fold on: the
    canon additionally maps the FIXED literal set of common Unicode
    punctuation/space chars (smart quotes, dash block, NBSP/ZWSP,
    ideographic space — UNICODE_PUNCT_CLASS) to spaces, merging a page
    with its typographically re-rendered copy. Same plan shape as
    robust_dedup (one map-side expression, one shuffle); the explicit
    character list — never a \\p{P} property class — keeps the Java
    regex (Spark) and RE2 (DuckDB) canonical strings byte-identical,
    which the hash-exact oracle proves on every doc."""
    from polars_nexpresso_spark.functions.dedup import robust_dedup

    docs = spread(read_table(spark, sf_dir, "documents"))
    return robust_dedup(docs, "text", "doc_id", fold_unicode=True)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    # bands=8 (r=4): candidate probability 1-(1-j^4)^8 — ≈98.5% at j=0.8,
    # ~6% at j=0.3; r=2 floods verification with low-similarity candidates
    # (2314 vs 258 candidates on sf0.1's 5000 docs).
    return minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    return simhash_table(docs, "text", "doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    # max_hamming=3 is the radius the 4×15-bit chunk blocking GUARANTEES by
    # pigeonhole; larger radii would silently under-recall (and on this
    # templated corpus, hamming≤8 matches ~10% of all pairs — not near-dups).
    # Because the guarantee is exhaustive at this radius, the blocked output
    # EQUALS a brute-force self-join — so an exact DuckDB oracle applies.
    pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    return pairs.withColumn("hamming", F.col("hamming").cast("bigint"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs < 25 play the benchmark, the rest the
    training set; any train doc sharing a 13-gram with the benchmark is
    dropped (the GPT-3-style contamination rule)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    kept = decontaminate(train, eval_df, "text", "doc_id", mode="ngram", n=13)
    return kept.select("doc_id")


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination severity on the same split as
    ``decontaminate``: for each benchmark doc (< 25), the fraction of
    its distinct 13-grams found anywhere in the training split."""
    from polars_nexpresso_spark.functions.dedup import contamination_report

    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    return contamination_report(train, eval_df, "text", "doc_id", n=13)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights on the decontaminate split: docs < 25 are
    the target domain, the rest the raw pool; each raw doc scored by the
    log-ratio of smoothed hashed-bigram bucket frequencies."""
    from polars_nexpresso_spark.functions.sampling import dsir_log_weights

    docs = spread(read_table(spark, sf_dir, "documents"))
    target = docs.filter(F.col("doc_id") < 25)
    raw = docs.filter(F.col("doc_id") >= 25)
    return dsir_log_weights(
        raw, target, "text", "doc_id", n=2, num_buckets=1000, alpha=1.0
    )


def q_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Gumbel-top-k sample of 50 docs with probability
    ∝ exp(token_count / 40): the importance-resampling selection step,
    reproducible because the Gumbel noise is an md5 expression the
    oracle replays bit-for-bit."""
    from polars_nexpresso_spark.functions.sampling import gumbel_topk
    from polars_nexpresso_spark.functions.text import token_count

    docs = spread(read_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).withColumn("score", F.col("n_tokens").cast("double"))
    out = gumbel_topk(scored, "score", "doc_id", k=50, temperature=40.0)
    return out.select("doc_id", "n_tokens", "gumbel_key")


def q_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-safe decontaminator on the same split as
    ``decontaminate`` — stateless broadcast-dictionary filtering, so the
    batch application here shares the batch oracle verbatim (identical
    survivors by construction)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    kept = decontaminate_stream(train, eval_df, "text", n=13)
    return kept.select("doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → dedup decisions: connected components over the MinHash+LSH
    near-dup pairs (== brute-force Jaccard pairs on this data, see
    ``minhash_lsh``), every document labeled with the min id of its
    component. Large-star/small-star connected components; DuckDB oracle
    is a recursive CTE over the same pair set."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    return dedup_clusters(docs, pairs, "doc_id")


def q_dedup_best_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup decisions: the same MinHash+LSH components as
    ``dedup_clusters``, but each cluster keeps its highest-QUALITY member
    (score = text length here; any numeric score plugs in) instead of
    the arbitrary min-id — the Gopher/C4 keep-best-copy practice. The
    election is one narrow min_by aggregation on (id, score, cluster);
    the corpus text never rides a cluster exchange."""
    from polars_nexpresso_spark.functions.dedup import (
        keep_best_in_clusters,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    clusters = dedup_clusters(docs, pairs, "doc_id")
    scored = docs.withColumn("quality", F.length("text"))
    return keep_best_in_clusters(scored, clusters, "doc_id", "quality")


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    # Blocked on the label column (the shard/class/cluster pattern): pairs
    # form only inside each block, so the join is label-equi + verify, not
    # the all-pairs n² cross join — the shape that survives 100 TB. The
    # unblocked mode stays available for small inputs via block_col=None.
    return embedding_cosine_pairs(
        emb, "embedding", "vec_id", threshold=0.4, block_col="label"
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: per
    query, the top-5 most-similar corpus vectors whose label DIFFERS
    (same-label docs are the positives and are excluded). The positive
    sets ride the cosine_topk kernel with the query vectors as per-query
    exclusion sets; the corpus never shuffles."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    positives = (
        queries.select(F.col("vec_id").alias("query_id"), "label")
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "label"),
            on="label",
        )
        .select("query_id", "doc_id")
    )
    return mine_hard_negatives(emb, queries, positives, k=5)


def _embedding_dim(sf_dir: str) -> int:
    """Embedding width from parquet METADATA (pyarrow schema + one row
    group's stats are not enough — read one cell) — a driver-side file
    read, not a Spark job, so ANN plan construction stays action-free and
    tracks any regeneration of the testdata."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
    first = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
    return len(first.column("embedding")[0])


# Query + oracle share the probe radius; bumping it regenerates both
# sides of the correctness pair. 4 (163 of 256 buckets probed) is the
# round-6 default operating point: recall@5 0.86 vs 0.62 at radius 3 on
# the near-uniform synthetic embeddings for ~1.3x time (the worst case
# for LSH — clustered corpora reach 1.0 at either radius; bench records
# the full dial curve in BENCH_DETAILS.ann_recall_at_k).
_LSH_MULTIPROBE = 4


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    # dim comes from parquet metadata — no Spark probe job.
    return lsh_ann_topk(
        emb,
        queries,
        k=5,
        num_planes=8,
        multiprobe=_LSH_MULTIPROBE,
        dim=_embedding_dim(sf_dir),
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    # n_probe=6/16 cells: recall 0.70 vs 0.62 at 4 on the near-uniform
    # synthetic embeddings (real clustered embeddings need a far smaller
    # probe fraction for the same recall — this corpus is LSH/IVF's worst
    # case). bench.py records recall@k alongside time.
    return ivf_ann_topk(emb, queries, k=5, n_centroids=16, n_probe=6)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leak-free train/test split by content id (10% test)."""
    docs = read_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", test_frac=0.1).select("doc_id", "split")


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: at most 15 documents per source, survivors picked by
    id hash (deterministic, layout-independent)."""
    docs = read_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", max_n=15).select(
        "doc_id", "source"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: rebalance the embeddings
    corpus by label (keep 50% of even labels, 100% of odd)."""
    emb = read_table(spark, sf_dir, "embeddings")
    fractions = {i: (0.5 if i % 2 == 0 else 1.0) for i in range(10)}
    out = stratified_sample(emb, "label", "vec_id", fractions=fractions)
    return out.select("vec_id", "label")


def q_training_keepset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole preprocessing pipeline as ONE composed plan — the ids a
    training run would actually read:

    1. exact dedup (keep min id per content fingerprint),
    2. near-dup clusters over MinHash+LSH pairs → one representative each,
    3. eval-set decontamination (13-gram rule vs docs < 25),
    4. quality gate (≥ 25 tokens, bigram repetition ≤ 0.1),
    5. deterministic hash split → training shard only.

    Every stage is individually oracle-checked elsewhere; this row checks
    their COMPOSITION hash-exactly (stages interact: clusters form over
    the exact-deduped set, decontamination sees only representatives...).
    """
    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)

    kept_exact = exact_dedup(train, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    t1 = train.join(kept_exact, on="doc_id", how="left_semi")

    pairs = minhash_lsh_pairs(
        t1, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    reps = (
        dedup_clusters(t1.select("doc_id"), pairs, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    t2 = t1.join(reps, on="doc_id", how="left_semi")

    t3 = decontaminate(t2, eval_df, "text", "doc_id", mode="ngram", n=13)

    good_rep = (
        repetition_table(t3, "text", "doc_id", n=2)
        .filter(F.col("repetition_ratio") <= 0.1)
        .select("doc_id")
    )
    t4 = t3.filter(token_count(F.col("text")) >= 25).join(
        good_rep, on="doc_id", how="left_semi"
    )

    final = hash_split(t4, "doc_id", test_frac=0.1).filter(
        F.col("split") == "train"
    )
    return final.select("doc_id")


def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution per language: exact p50/p90/p99 (linear
    interpolation — matches SQL quantile_cont). The approx=True sketch
    mode is the 100 TB path (one-pass, mergeable) and is deliberately NOT
    the oracle-checked flavor."""
    from polars_nexpresso_spark.functions.text import group_percentiles

    docs = spread(read_table(spark, sf_dir, "documents"))
    with_counts = docs.select(
        F.col("lang"), token_count(F.col("text")).alias("n_tokens")
    )
    return group_percentiles(with_counts, "n_tokens", "lang")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram: 50 most frequent tokens, deterministic
    (count desc, token asc) tie-break."""
    from polars_nexpresso_spark.functions.text import vocab_topk

    docs = spread(read_table(spark, sf_dir, "documents"))
    return vocab_topk(docs, "text", k=50)


def q_token_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report: the 20 tokens contributing most JS
    divergence between the first and second half of the corpus (by id)
    — the distribution-level complement of ``corpus_diff``'s id-level
    recrawl delta. Vocab-sized shuffles only; scalars broadcast."""
    from polars_nexpresso_spark.functions.text import token_shift_topk

    docs = spread(read_table(spark, sf_dir, "documents"))
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return token_shift_topk(old, new, "text", k=20)


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by smoothed TF-IDF."""
    from polars_nexpresso_spark.functions.text import tfidf_keywords

    docs = spread(read_table(spark, sf_dir, "documents"))
    return tfidf_keywords(docs, "text", "doc_id", top_n=3)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids as (label, dim, centroid) rows."""
    from polars_nexpresso_spark.functions.similarity import label_centroids

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    return label_centroids(emb, dim=_embedding_dim(sf_dir))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing (LLM sample packing): documents
    hash-sharded 4 ways, walked in id order, new sequence on overflow of a
    256-token budget."""
    from polars_nexpresso_spark.functions.seqpack import sequence_pack

    docs = spread(read_table(spark, sf_dir, "documents"))
    with_toks = docs.select(
        F.col("doc_id"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    packed = sequence_pack(
        with_toks, "n_tokens", "doc_id", budget=256, num_shards=4
    )
    return packed.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "seq_id",
        "seq_fill",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text bytes as blobs → mapInPandas features."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = extract_features(media, n_features=4, fake=True)
    return feats.select("media_id", "n_bytes")


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end: deterministic 8-bit PCM WAV blobs
    (closed-form samples the oracle replays) → stdlib ``wave`` parse +
    PCM normalize + RMS in an Arrow-batched ``mapInPandas`` stage."""
    from polars_nexpresso_spark.functions.multimodal import (
        decode_audio,
        synth_wav,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    media = synth_wav(
        docs.select(F.col("doc_id").alias("media_id")),
        sample_rate=8000,
        n_base=100,
        n_mod=50,
    )
    return decode_audio(media, fake=False)


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio near-dup end to end: deterministic 8-bit PCM WAV
    blobs → stdlib wave parse + 60-bit energy-delta fingerprint
    (integer loudness contour from the DECODED samples) → pigeonhole
    Hamming pair join via the same ``hamming_pairs`` kernel the text
    simhash and image average-hash use. The oracle replays the
    fingerprint from the synthetic closed form, value-checking the
    whole decode → fingerprint → pair pipeline."""
    from polars_nexpresso_spark.functions.dedup import hamming_pairs
    from polars_nexpresso_spark.functions.multimodal import (
        audio_fingerprint,
        synth_wav,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    media = synth_wav(
        docs.select(F.col("doc_id").alias("media_id")),
        sample_rate=8000,
        n_base=100,
        n_mod=50,
    )
    hashed = audio_fingerprint(media, fake=False)
    return hamming_pairs(hashed, "afp", "media_id", bits=60, max_hamming=3)


def q_dup_window_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication score (Lee et al. 2022): per document,
    the fraction of 4-token windows whose content appears in >= 2
    distinct documents. Linear in total windows — no pairwise joins."""
    from polars_nexpresso_spark.functions.dedup import (
        duplicated_window_fraction,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return duplicated_window_fraction(
        docs, "text", "doc_id", window=4, min_df=2
    )


def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end to end: deterministic uncompressed RGB24
    AVI blobs (closed-form pixels the oracle replays) → RIFF container
    parse + raw-frame numpy decode in an Arrow-batched ``mapInPandas``
    stage. No codec library needed for BI_RGB streams — the video analog
    of the PCM-WAV audio path."""
    from polars_nexpresso_spark.functions.multimodal import (
        decode_video,
        synth_avi,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    media = synth_avi(
        docs.select(F.col("doc_id").alias("media_id")),
        width=8,
        height=6,
        fps=10,
        n_base=4,
        n_mod=6,
    )
    return decode_video(media, fake=False)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, 8 overlap):
    the unit-length bound between raw documents and sequence packing."""
    from polars_nexpresso_spark.functions.chunking import chunk_documents

    docs = spread(read_table(spark, sf_dir, "documents"))
    return chunk_documents(docs, "text", "doc_id", chunk_size=32, overlap=8)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval: top-20 documents for a fixed query,
    early query-term filtering so the shuffle carries only hits."""
    from polars_nexpresso_spark.functions.retrieval import bm25_topk

    docs = spread(read_table(spark, sf_dir, "documents"))
    return bm25_topk(
        docs, "text", "doc_id", "hash join spill window", k=20
    )


def q_cross_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank with a pairwise JOINT scorer (the
    cross-encoder cascade shape): exact 3-gram Jaccard pairs at the
    0.8 threshold are the first-stage shortlist, and
    cross_encoder_rerank re-scores each (query, candidate) pair with
    the distinct-token-hash Jaccard kernel — a different granularity
    (unigram sets vs 3-gram shingles), so the rerank genuinely
    re-orders — keeping top-3 per query. The lexical kernel is the
    documented deterministic stand-in for a neural cross-encoder; the
    pair-join/Arrow-batch/bounded-window plumbing is the deliverable
    and is identical for the real model."""
    from polars_nexpresso_spark.functions.retrieval import (
        cross_encoder_rerank,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8
    ).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("doc_id")
    )
    return cross_encoder_rerank(pairs, docs, k=3)


def q_distill_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full contrastive-training data loop, composed from
    production operators: IVF ANN retrieves a 20-candidate shortlist
    per query over the embeddings (cells bound the candidates — no
    all-pairs scan), cross_encoder_rerank re-scores every (query,
    candidate) pair jointly over the aligned documents' TEXT (the
    teacher stand-in), and distillation_pairs emits the
    (query, positive, hardest-negative, margin) triplets a bi-encoder
    student trains on (Margin-MSE shape). Everything after candidate
    generation is k-bounded per query; the embeddings and documents
    tables share the id space by construction (TESTDATA)."""
    from polars_nexpresso_spark.functions.retrieval import (
        cross_encoder_rerank,
        distillation_pairs,
    )
    from polars_nexpresso_spark.functions.similarity import ivf_ann_topk

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    shortlist = ivf_ann_topk(
        emb, queries, k=20, n_centroids=16, n_probe=6
    ).select("query_id", F.col("neighbor_id").alias("doc_id"))
    docs = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    ce = cross_encoder_rerank(shortlist, docs, k=20)
    return distillation_pairs(ce, n_negatives=4)


def q_ref_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete student-training data path as ONE oracle-paired plan
    (VERDICT r12 item 7): IVF ANN retrieves a bounded 20-candidate
    shortlist per query, cross_encoder_rerank re-scores every pair over
    the aligned documents' text (the teacher stand-in),
    distillation_pairs emits the Margin-MSE triplets, and the split
    step makes held-out evaluation honest the same way
    ``leakage_free_split`` does — the md5 split decision hashes the
    POSITIVE document's near-dup CLUSTER id (MinHash+LSH connected
    components), so a triplet whose positive is a near-duplicate of any
    test-side document lands on the test side with it, never in train.

    Scale shape: everything after candidate generation is k-bounded per
    query, so the triplet table (``n_queries x n_negatives`` rows) is
    broadcast-eligible by construction and broadcasts INTO the
    corpus-sized cluster/split table — the corpus never shuffles for
    the final join. Cluster discovery itself is the banded-LSH +
    connected-components machinery of ``dedup_clusters`` (near-dup
    pairs, never all-pairs)."""
    from polars_nexpresso_spark.functions.retrieval import (
        cross_encoder_rerank,
        distillation_pairs,
    )
    from polars_nexpresso_spark.functions.sampling import hash_split
    from polars_nexpresso_spark.functions.similarity import ivf_ann_topk

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    docs = spread(read_table(spark, sf_dir, "documents"))

    # The triplet branch (IVF shortlist → CE rerank → distillation pins)
    # and the cluster branch (MinHash pairs → connected components) are
    # independent until the final join, yet both run EAGER jobs during
    # construction (the pins and the star rounds). Built by overlap(),
    # those job chains run at once; a failing branch cancels the other.
    def _build_triplets() -> DataFrame:
        shortlist = ivf_ann_topk(
            emb, queries, k=20, n_centroids=16, n_probe=6
        ).select("query_id", F.col("neighbor_id").alias("doc_id"))
        ce = cross_encoder_rerank(
            shortlist, docs.select("doc_id", "text"), k=20
        )
        return distillation_pairs(ce, n_negatives=4)

    def _build_clusters() -> DataFrame:
        pairs = minhash_lsh_pairs(
            docs, "text", "doc_id",
            n=3, num_hashes=32, bands=8, threshold=0.8,
        )
        return dedup_clusters(docs, pairs, "doc_id")

    trip, clusters = overlap(spark, _build_triplets, _build_clusters)
    split = hash_split(clusters, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )
    return split.join(
        F.broadcast(trip), split["doc_id"] == trip["pos_id"]
    ).select(
        "query_id", "pos_id", "neg_id", "margin", "neg_rank",
        "cluster_id", "split",
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the corpus text is salted with deterministically
    constructed emails / IPs / SSNs / phone numbers (both engines build
    the identical string from doc_id), so the oracle genuinely exercises
    every redaction regex rather than matching nothing."""
    from polars_nexpresso_spark.functions.redaction import redact_pii

    docs = spread(read_table(spark, sf_dir, "documents"))
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel 555-123-4567"),
        ).alias("text"),
    )
    out = redact_pii(salted, "text")
    return out.select(
        "doc_id", "text", "n_email", "n_ipv4", "n_ssn", "n_phone", "n_pii"
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style quality gate with per-rule provenance."""
    from polars_nexpresso_spark.functions.text import quality_filter

    docs = spread(read_table(spark, sf_dir, "documents"))
    return quality_filter(
        docs,
        "text",
        "doc_id",
        min_tokens=20,
        min_stopword_ratio=0.03,
        min_unique_ratio=0.2,
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (width-20 buckets): the sequence-length
    planning input for chunk-size / pack-fill decisions."""
    from polars_nexpresso_spark.functions.text import token_length_histogram

    docs = spread(read_table(spark, sf_dir, "documents"))
    return token_length_histogram(docs, "text", bucket_width=20)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus accounting: docs, token volume, exact
    distinct content fingerprints and the implied duplicate ratio — the
    dashboard aggregation every ingest run reports. One hash aggregation
    with map-side partials; ``count_distinct`` is exact here for the
    oracle, with ``approx_count_distinct`` (HLL sketch, constant memory
    per group) as the 100 TB drop-in noted in the docstring."""
    from polars_nexpresso_spark.functions.text import (
        doc_fingerprint,
        token_count,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "source",
            "lang",
            token_count(F.col("text")).alias("__n"),
            doc_fingerprint(F.col("text")).alias("__fp"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("total_tokens"),
            F.count_distinct("__fp").alias("distinct_docs"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col("distinct_docs") / F.col("n_docs"), 6
            ),
        )
    )


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff — the recrawl-ingest primitive: compare
    content fingerprints across two corpus versions and label every doc
    added / changed / removed / unchanged, so downstream dedup/scoring
    re-runs only on the delta. The 'old' snapshot is constructed
    deterministically in BOTH engines (docs with id < 400, every
    10th one with reversed text), the 'new' snapshot is the corpus
    itself; a full outer join on doc_id compares md5 fingerprints. One
    co-keyed join, map-side fingerprints — at scale this is the
    cheapest possible two-snapshot pass."""
    from polars_nexpresso_spark.functions.text import doc_fingerprint

    docs = spread(read_table(spark, sf_dir, "documents"))
    n_cut = 400  # sf-independent oracle needs a fixed id cut; sf0.001 has 500
    old = docs.filter(F.col("doc_id") < n_cut).select(
        "doc_id",
        doc_fingerprint(
            F.when(
                F.col("doc_id") % 10 == 0, F.reverse(F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("__old_fp"),
    )
    new = docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("__new_fp")
    )
    joined = old.join(new, on="doc_id", how="full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") == F.col("__new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("doc_id", status.alias("status"))


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization: the corpus text is salted with a
    DECOMPOSED letter+combining-grave pair derived from doc_id (both
    engines build the identical string), normalized with
    ``unicodedata.normalize`` (Spark, Arrow-batched) vs DuckDB's
    ``nfc_normalize`` — composed output and shrunken length prove the
    combining sequence actually folded."""
    from polars_nexpresso_spark.functions.text import normalize_unicode

    docs = spread(read_table(spark, sf_dir, "documents"))
    letter = F.substring(
        F.lit("ABCDEFGHIJKLMNOPQRSTUVWXYZ"),
        (F.col("doc_id") % 26).cast("int") + 1,
        1,
    )
    salted = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" "), letter, F.lit("̀")).alias(
            "text"
        ),
    )
    out = normalize_unicode(salted, "text", form="NFC")
    return out.select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("n_chars_nfc"),
    )


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing: per-source terciles
    of the self-trained LM score, labeled map-side from one broadcast
    threshold row per source."""
    from polars_nexpresso_spark.functions.sampling import score_buckets
    from polars_nexpresso_spark.functions.text import ngram_lm_score

    docs = spread(read_table(spark, sf_dir, "documents"))
    # r13 (guide §2.4): score_buckets reads its input twice (the
    # per-source threshold aggregation and the labeling join), which
    # re-ran the whole self-trained LM pipeline. The scored frame is a
    # narrow 3-column (doc_id, avg_neg_logp, source) table — pin it so
    # the LM trains and scores once.
    scored = (
        ngram_lm_score(docs, "text", "doc_id", n=2, k=0.5)
        .join(docs.select("doc_id", "source"), on="doc_id")
        .select("doc_id", "avg_neg_logp", "source")
        .localCheckpoint(eager=True)
    )
    out = score_buckets(scored, "avg_neg_logp", by=["source"])
    return out.select("doc_id", "source", "avg_neg_logp", "bucket")


def q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection of the embedding table to 16
    dims via a deterministic md5-parity ±1 matrix — the shrink-every-
    downstream-byte step before ANN/caching. Emits (vec_id, j, proj)
    rows; the oracle replays the same literal signs in the same
    left-to-right sum order, so even the doubles hash exactly."""
    from polars_nexpresso_spark.functions.similarity import (
        project_embeddings,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    dim = _embedding_dim(sf_dir)
    proj = project_embeddings(emb, out_dim=16, dim=dim)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("j", "__v")
    ).select(
        "vec_id",
        F.col("j").cast("bigint").alias("j"),
        F.round(F.col("__v"), 6).alias("proj"),
    )


def q_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity-bucket filter end-to-end: self-trained bigram
    LM score per document, then keep the most fluent 30% per source
    (lowest avg -ln P; threshold = exact per-source 0.3-quantile,
    broadcast back, ties kept). Oracle composes the lm_score oracle with
    quantile_cont."""
    from polars_nexpresso_spark.functions.sampling import keep_top_fraction
    from polars_nexpresso_spark.functions.text import ngram_lm_score

    docs = spread(read_table(spark, sf_dir, "documents"))
    # r13 (guide §2.4): keep_top_fraction reads its input twice (the
    # per-source quantile aggregation and the keep filter) — same
    # narrow-score pin as q_quality_buckets so the LM runs once.
    scored = (
        ngram_lm_score(docs, "text", "doc_id", n=2, k=0.5)
        .join(docs.select("doc_id", "source"), on="doc_id")
        .select("doc_id", "avg_neg_logp", "source")
        .localCheckpoint(eager=True)
    )
    kept = keep_top_fraction(
        scored, "avg_neg_logp", frac=0.3, by=["source"], keep="lowest"
    )
    return kept.select("doc_id", "source", "avg_neg_logp")


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP form of the corpus report: per-(source, lang) rows plus
    per-source and grand-total margins in ONE aggregation pass
    (Spark ``rollup`` == SQL ``GROUP BY ROLLUP``) — grouping-set
    aggregates are an extension beyond the reference, which has no
    grouping-sets/cube/rollup surface (SURVEY §2.F)."""
    from polars_nexpresso_spark.functions.text import token_count

    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "source", "lang", token_count(F.col("text")).alias("__n")
        )
        .rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("total_tokens"),
        )
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the C4 'remove duplicated paragraphs'
    analog, composed from this repo's own stages: chunk_documents
    (non-overlapping 32-token windows) → md5 chunk fingerprint → one
    hash aggregation keeping the lexicographically first (doc, chunk)
    occurrence. ``min(struct(...))`` instead of a row_number window:
    partial aggregation runs map-side, so the shuffle carries one row
    per distinct chunk, not one per chunk."""
    from polars_nexpresso_spark.functions.chunking import chunk_documents
    from polars_nexpresso_spark.functions.text import doc_fingerprint

    docs = spread(read_table(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, "text", "doc_id", chunk_size=32, overlap=0)
    return (
        chunks.select(
            doc_fingerprint(F.col("chunk_text")).alias("fingerprint"),
            F.struct("doc_id", "chunk_id").alias("__first"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("__first").alias("__keep"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
        .select(
            "fingerprint",
            F.col("__keep.doc_id").alias("keep_doc_id"),
            F.col("__keep.chunk_id").alias("keep_chunk_id"),
            "dup_count",
        )
    )


def _lang_score_sql(lang: str) -> str:
    terms = []
    for m in LANG_PROFILES[lang]:
        needle = f" {m} "
        terms.append(
            f"CAST((length(padded) - length(replace(padded, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)"
        )
    return " + ".join(terms)


def _language_id_oracle() -> str:
    langs = sorted(LANG_PROFILES)
    score_cols = ",\n           ".join(
        f"({_lang_score_sql(lang)}) AS s_{lang}" for lang in langs
    )
    cases = []
    for lang in langs:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "\n               ".join(cases)
    return f"""
        WITH scored AS (
          SELECT doc_id, {score_cols}
          FROM (SELECT doc_id, concat(' ', {_NORM}, ' ') AS padded FROM documents)
        )
        SELECT doc_id,
               CASE {case_sql}
               ELSE 'und' END AS lang_pred
        FROM scored
    """


def _lsh_ann_oracle() -> str | None:
    """Exact DuckDB replica of ``q_lsh_ann_topk``.

    The hyperplanes are deterministic (md5-derived, seed 42 — see
    ``similarity._hyperplanes``), so they embed as literal VALUES; bucket
    assignment replays the same sign arithmetic, and the multiprobe set
    (all buckets within Hamming distance ``_LSH_MULTIPROBE``) collapses
    to a ``bit_count(xor(...)) <= r`` join predicate. Returns None (rows-only
    check) when the oracle-SF testdata is unreadable — a wrong-dimension
    plane set would otherwise fail correctness spuriously.
    """
    if _ORACLE_DIM is None:
        return None
    from polars_nexpresso_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(8, _ORACLE_DIM, 42)
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH planes(i, v) AS (
          VALUES {values}
        ),
        b AS (
          SELECT e.vec_id,
                 SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.v) >= 0
                          THEN (1::BIGINT << p.i) ELSE 0 END)::BIGINT AS bucket
          FROM embeddings e, planes p
          GROUP BY e.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY qb.vec_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6)
                            DESC, cb.vec_id ASC
                 ) AS rank
          FROM b cb
          JOIN b qb ON bit_count(xor(cb.bucket, qb.bucket)) <= {_LSH_MULTIPROBE}
          JOIN embeddings c ON c.vec_id = cb.vec_id
          JOIN embeddings q ON q.vec_id = qb.vec_id
          WHERE qb.vec_id < 10 AND cb.vec_id != qb.vec_id
        ) WHERE rank <= 5
    """


def _ivf_ann_oracle() -> str | None:
    """Exact DuckDB replica of ``q_ivf_ann_topk``.

    The k-means training is deterministic (md5-ordered sample, seeded
    numpy Lloyd's loop), so ``kmeans_centroids_local`` re-derives the
    exact centroids Spark-free and they embed as literal VALUES. Cell
    assignment (nearest centroid, ties to the lowest index — numpy's
    stable argsort) and the 6-cell probe replay in SQL; exact cosine
    ranks candidates. The correctness gate runs at sf0.01
    (``PNS_ORACLE_SF_DIR`` overrides for local checks at other SFs);
    returns None (rows-only check) if that testdata is unreadable.
    """
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC, c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        corpus_cell AS (SELECT vec_id, i AS cell FROM ranked WHERE rn = 1),
        query_cell AS (
          SELECT vec_id, i AS cell FROM ranked WHERE rn <= 6 AND vec_id < 10
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY qb.vec_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6)
                            DESC, cb.vec_id ASC
                 ) AS rank
          FROM corpus_cell cb
          JOIN query_cell qb ON cb.cell = qb.cell
          JOIN embeddings c ON c.vec_id = cb.vec_id
          JOIN embeddings q ON q.vec_id = qb.vec_id
          WHERE cb.vec_id != qb.vec_id
        ) WHERE rank <= 5
    """


def _distill_pairs_oracle() -> str | None:
    """DuckDB replica of ``q_distill_pairs``: the IVF oracle's centroid
    VALUES + 6-cell probe build the 20-candidate shortlists, the
    cross_rerank token-hash-Jaccard CTE replays the teacher scores,
    and two ROW_NUMBER windows elect the positive (ce DESC, id ASC)
    and the 4 hardest negatives (margin ASC, id ASC). None (rows-only)
    when the oracle-SF testdata is unreadable at import."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        rankedc AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        corpus_cell AS (SELECT vec_id, i AS cell FROM rankedc WHERE rn = 1),
        query_cell AS (
          SELECT vec_id, i AS cell FROM rankedc WHERE rn <= 6 AND vec_id < 10
        ),
        shortlist AS (
          SELECT query_id, doc_id FROM (
            SELECT qb.vec_id AS query_id, cb.vec_id AS doc_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY qb.vec_id
                     ORDER BY ROUND(list_cosine_similarity(
                                c.embedding::DOUBLE[],
                                q.embedding::DOUBLE[]), 6) DESC,
                              cb.vec_id ASC
                   ) AS rank
            FROM corpus_cell cb
            JOIN query_cell qb ON cb.cell = qb.cell
            JOIN embeddings c ON c.vec_id = cb.vec_id
            JOIN embeddings q ON q.vec_id = qb.vec_id
            WHERE cb.vec_id != qb.vec_id
          ) WHERE rank <= 20
        ),
        toksets AS (
          -- list_filter: see the cross_rerank oracle — maps DuckDB's
          -- [''] empty-split to Spark's tokens('') = [] contract.
          SELECT doc_id,
                 list_distinct(list_transform(
                   list_filter(toks, t -> t != ''),
                   t -> CAST(concat('0x', substr(md5(t), 1, 15))
                             AS BIGINT))) AS ths
          FROM (SELECT doc_id, {{_TOKS}} AS toks FROM documents)
        ),
        ce AS (
          SELECT s.query_id, s.doc_id,
                 CASE WHEN len(qa.ths) = 0 AND len(qb.ths) = 0 THEN 0.0
                      ELSE ROUND(
                        len(list_intersect(qa.ths, qb.ths))::DOUBLE
                        / (len(qa.ths) + len(qb.ths)
                           - len(list_intersect(qa.ths, qb.ths))), 6)
                 END AS ce_score
          FROM shortlist s
          JOIN toksets qa ON qa.doc_id = s.query_id
          JOIN toksets qb ON qb.doc_id = s.doc_id
        ),
        ranked AS (
          SELECT query_id, doc_id, ce_score,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ce_score DESC NULLS LAST, doc_id ASC
                 ) AS r
          FROM ce
        ),
        pos AS (
          SELECT query_id, doc_id AS pos_id, ce_score AS pos_score
          FROM ranked WHERE r = 1
        ),
        pairs AS (
          SELECT p.query_id, p.pos_id, n.doc_id AS neg_id,
                 ROUND(p.pos_score - n.ce_score, 6) AS margin
          FROM pos p JOIN ranked n
            ON n.query_id = p.query_id AND n.r > 1
        )
        SELECT query_id, pos_id, neg_id, margin, neg_rank FROM (
          SELECT query_id, pos_id, neg_id, margin,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY margin ASC NULLS LAST, neg_id ASC
                 ) AS neg_rank
          FROM pairs
        ) WHERE neg_rank <= 4
    """.replace("{_TOKS}", _TOKS)


def _jaccard_pairs_oracle(threshold: float) -> str:
    return f"""
        WITH shingled AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                     6) AS jaccard
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                    6) >= {threshold}
    """


def q_boilerplate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate stripping at token granularity: every
    token appearing in >= 50% of documents is removed from all of them
    (the synthetic corpus has no newline/sentence structure, so the
    token unit is what exercises the operator non-trivially; on real
    web text the default newline delimiter strips nav/footer lines).
    Fraction threshold = SF-robust: the bar is a broadcast 1-row
    aggregate, never a driver action."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_boilerplate_lines,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return remove_boilerplate_lines(
        docs, "text", "doc_id", min_docs=None, min_doc_frac=0.5,
        delimiter=" ",
    )


def q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition removal at token granularity: keep
    each token's FIRST occurrence per doc, drop later repeats. Zero
    shuffles — a single map-side higher-order filter expression (the
    synthetic corpus has no newline structure, so the token unit is the
    non-trivial exercise; real logs/pages use the newline default)."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_lines_within_doc,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return dedup_lines_within_doc(docs, "text", "doc_id", delimiter=" ")


# Shared with the oracle SQL below so query and oracle can never drift.
FIXED_BOILER_TOKENS = ("a", "the", "data", "value")


def q_fixed_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip a KNOWN boilerplate set (here: the corpus's filler tokens)
    — the stream-safe member of the boilerplate family. No corpus
    aggregation at all: the set is given, the removal is one stateless
    map-side array filter, so the identical call works on an unbounded
    readStream (batch/stream equivalence pinned in
    test_remove_fixed_boilerplate_on_actual_stream)."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_fixed_boilerplate,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return remove_fixed_boilerplate(
        docs, FIXED_BOILER_TOKENS, "text", "doc_id", delimiter=" "
    )


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring REMOVAL (Lee et al. 2022): every
    4-token span occurring >= 2 times corpus-wide is stripped from all
    but its globally first occurrence — the removal counterpart of
    ``dup_window_frac``'s measurement, same window size. All duplication
    exchanges carry (doc, pos, hash); the text only rides the final
    doc-keyed reassembly join."""
    from polars_nexpresso_spark.functions.dedup import (
        remove_duplicated_windows,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return remove_duplicated_windows(docs, "text", "doc_id", window=4)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source 13-gram Jaccard matrix — which corpus sources
    duplicate each other (the input to mixture-weight decisions)."""
    from polars_nexpresso_spark.functions.dedup import source_overlap

    docs = spread(read_table(spark, sf_dir, "documents"))
    return source_overlap(docs, "text", "source", n=13)


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget fill: hash-ordered maximal prefix of
    the corpus whose cumulative token count stays within 10k tokens —
    the "give me exactly N tokens, the same ones every run" sizing
    primitive, with the global running sum split into a bounded bucket
    prefix + partitioned in-bucket windows (no single-task sort)."""
    from polars_nexpresso_spark.functions.sampling import (
        take_token_budget,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    return take_token_budget(docs, "text", "doc_id", budget=10_000)


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes quality scoring: train per-token log-odds on a
    positive slice (doc_id < 100, standing in for a curated reference)
    vs the rest, then score the whole corpus map-side — the cheap
    classifier-filter stage of a CCNet/GPT-3-style curation pipeline."""
    from polars_nexpresso_spark.functions.text import (
        nb_quality_model,
        nb_quality_score,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    pos = docs.filter(F.col("doc_id") < 100)
    neg = docs.filter(F.col("doc_id") >= 100)
    model = nb_quality_model(pos, neg, "text")
    return nb_quality_score(docs, model, "text", "doc_id")


def q_nb_quality_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream-safe NB scoring: model collected once into a
    sorted hash dictionary, per-doc mean via a vectorized binary-search
    probe — no join/shuffle/state; same oracle as the batch path
    (``n_tokens > 0`` filter = the batch scorer's implicit contract)."""
    from polars_nexpresso_spark.functions.text import (
        nb_quality_score_stream,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    pos = docs.filter(F.col("doc_id") < 100)
    neg = docs.filter(F.col("doc_id") >= 100)
    out = nb_quality_score_stream(docs, pos, neg, "text")
    return out.filter(F.col("n_tokens") > 0).select(
        "doc_id", "n_tokens", "nb_logodds"
    )


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal near-dup end to end: deterministic RGB24 AVI
    blobs → RIFF parse + first-frame average-hash (all-integer, from
    the DECODED bytes) → pigeonhole Hamming pair join via the same
    ``hamming_pairs`` kernel the text simhash uses. The oracle replays
    the hash from the synthetic closed form, so the whole decode →
    fingerprint → pair pipeline is value-checked."""
    from polars_nexpresso_spark.functions.dedup import hamming_pairs
    from polars_nexpresso_spark.functions.multimodal import (
        image_ahash,
        synth_avi,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    media = synth_avi(
        docs.select(F.col("doc_id").alias("media_id")),
        width=8,
        height=8,
        fps=10,
        n_base=2,
        n_mod=3,
    )
    hashed = image_ahash(media, fake=False)
    return hamming_pairs(
        hashed, "ahash", "media_id", bits=60, max_hamming=3
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: deterministic k-means cells,
    drop any vector with a smaller-id within-cluster neighbor at cosine
    >= 0.3 (the synthetic corpus is near-uniform — its 99th-percentile
    pair cosine is ~0.29 — so 0.3 exercises real drops; realistic web
    corpora use ~0.95 against much tighter clusters)."""
    from polars_nexpresso_spark.functions.similarity import semantic_dedup

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    return semantic_dedup(emb, n_centroids=16, threshold=0.3)


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_stats": q_text_stats,
    "repetition": q_repetition,
    "token_fingerprint": q_token_fingerprint,
    "language_id": q_language_id,
    "exact_dedup": q_exact_dedup,
    "robust_dedup": q_robust_dedup,
    "robust_dedup_unicode": q_robust_dedup_unicode,
    "cross_rerank": q_cross_rerank,
    "distill_pairs": q_distill_pairs,
    "ref_distill": q_ref_distill,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "decontaminate": q_decontaminate,
    "decontaminate_stream": q_decontaminate_stream,
    "contamination_report": q_contamination_report,
    "dsir_weights": q_dsir_weights,
    "gumbel_topk": q_gumbel_topk,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "embedding_dedup": q_embedding_dedup,
    "cosine_topk": q_cosine_topk,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "multimodal_features": q_multimodal_features,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_video": q_multimodal_video,
    "dup_window_frac": q_dup_window_frac,
    "lm_score": q_lm_score,
    "lm_score_stream": q_lm_score_stream,
    "source_mix": q_source_mix,
    "cosine_topk_int8": q_cosine_topk_int8,
    "quality_percentiles": q_quality_percentiles,
    "vocab_topk": q_vocab_topk,
    "tfidf_keywords": q_tfidf_keywords,
    "label_centroids": q_label_centroids,
    "sequence_pack": q_sequence_pack,
    "hash_split": q_hash_split,
    "cap_per_source": q_cap_per_source,
    "stratified_sample": q_stratified_sample,
    "training_keepset": q_training_keepset,
    "chunk_documents": q_chunk_documents,
    "bm25_topk": q_bm25_topk,
    "redact_pii": q_redact_pii,
    "quality_filter": q_quality_filter,
    "token_histogram": q_token_histogram,
    "chunk_dedup": q_chunk_dedup,
    "corpus_report": q_corpus_report,
    "corpus_rollup": q_corpus_rollup,
    "quality_topfrac": q_quality_topfrac,
    "project_embeddings": q_project_embeddings,
    "quality_buckets": q_quality_buckets,
    "unicode_nfc": q_unicode_nfc,
    "corpus_diff": q_corpus_diff,
    # Round-6 additions: registered AFTER the 50-slot driver window
    # (verified by scripts/check_oracle.py this round, rotate into the
    # window next round — same protocol the r5 additions followed).
    "boilerplate_tokens": q_boilerplate_tokens,
    "semantic_dedup": q_semantic_dedup,
    "intradoc_dedup": q_intradoc_dedup,
    "source_overlap": q_source_overlap,
    "token_budget": q_token_budget,
    "nb_quality": q_nb_quality,
    "nb_quality_stream": q_nb_quality_stream,
    "image_near_dup": q_image_near_dup,
    # Round-7 additions: registered after the 50-slot driver window,
    # verified via scripts/check_oracle.py this round (rotate into the
    # window next round — the standing protocol for new operators).
    "fixed_boilerplate": q_fixed_boilerplate,
    "dedup_best_keep": q_dedup_best_keep,
    "hard_negatives": q_hard_negatives,
    "exact_substring_dedup": q_exact_substring_dedup,
    "temperature_mix": q_temperature_mix,
    "leakage_free_split": q_leakage_free_split,
    "hard_negatives_ann": q_hard_negatives_ann,
    "audio_near_dup": q_audio_near_dup,
    "token_shift": q_token_shift,
}

_sw = ", ".join(f"'{w}'" for w in STOPWORDS)
_ORACLE_DIM = _oracle_dim()

PIPELINE_ORACLE_SQL: dict[str, str] = {
    "text_stats": f"""
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               ROUND(list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                     / len(toks), 4) AS avg_token_len,
               ROUND(len(list_filter(toks, t -> list_contains([{_sw}], t)))::DOUBLE
                     / len(toks), 4) AS stopword_ratio,
               ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS uniq_ratio
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
    "repetition": f"""
        SELECT doc_id,
               MAX(c)::BIGINT AS top_count,
               SUM(c)::BIGINT AS total_ngrams,
               ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS repetition_ratio
        FROM (
          SELECT doc_id, gram, count(*) AS c
          FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(toks)-1, 1)+1),
                       i -> array_to_string(list_slice(toks, i, i+1), ' ')
                   )) AS gram
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
          )
          GROUP BY doc_id, gram
        )
        GROUP BY doc_id
    """,
    "token_fingerprint": f"""
        SELECT doc_id,
               len(regexp_extract_all(lower(text),
                   '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+'))::BIGINT
                   AS n_bpe_tokens,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(toks, t ->
                           CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                           % 2147483647)),
                   (acc, x) -> (acc * 131 + x) % 2147483647) AS fingerprint
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
    "language_id": _language_id_oracle(),
    "exact_dedup": f"""
        SELECT md5({_NORM}) AS fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_count
        FROM documents
        GROUP BY 1
    """,
    "robust_dedup": f"""
        SELECT md5({_RCANON}) AS fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_count
        FROM documents
        GROUP BY 1
    """,
    "robust_dedup_unicode": f"""
        SELECT md5({_RCANON_U}) AS fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_count
        FROM documents
        GROUP BY 1
    """,
    "ngram_jaccard": _jaccard_pairs_oracle(0.8),
    # cross_rerank: the 0.8-Jaccard shortlist re-scored by distinct-
    # token-hash Jaccard (the cross-encoder slot's deterministic
    # stand-in), top-3 per query, ties by doc_id; token hashes replay
    # via the shared md5-conv fragment, NULL-text sides rank last.
    "cross_rerank": f"""
        WITH shingled AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ),
        pairs AS (
          SELECT a.doc_id AS query_id, b.doc_id AS doc_id
          FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                      / (len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh))), 6) >= 0.8
        ),
        toksets AS (
          -- list_filter guards DuckDB's string_split('', ' ') = ['']:
          -- Spark tokens('') is [], so an empty-normalized doc must get
          -- an EMPTY hash set here too, making the both-empty -> 0.0
          -- branch below genuinely mirror pandas_pair_jaccard (ADVICE
          -- r12: the branch was unreachable with a {{hash('')}} set).
          SELECT doc_id,
                 list_distinct(list_transform(
                   list_filter(toks, t -> t != ''),
                   t -> CAST(concat('0x', substr(md5(t), 1, 15))
                             AS BIGINT))) AS ths
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ),
        scored AS (
          SELECT p.query_id, p.doc_id,
                 CASE WHEN len(qa.ths) = 0 AND len(qb.ths) = 0 THEN 0.0
                      ELSE ROUND(
                        len(list_intersect(qa.ths, qb.ths))::DOUBLE
                        / (len(qa.ths) + len(qb.ths)
                           - len(list_intersect(qa.ths, qb.ths))), 6)
                 END AS ce_score
          FROM pairs p
          JOIN toksets qa ON qa.doc_id = p.query_id
          JOIN toksets qb ON qb.doc_id = p.doc_id
        )
        SELECT query_id, doc_id, ce_score, rank FROM (
          SELECT query_id, doc_id, ce_score,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ce_score DESC NULLS LAST, doc_id ASC
                 ) AS rank
          FROM scored
        ) WHERE rank <= 3
    """,
    # minhash banding has recall 1-(1-j^2)^16 ≈ 1 at the 0.8 threshold on
    # this data (planted near-dups have j ≈ 0.99), and verification is exact
    # Jaccard — so the LSH output equals the brute-force pairs.
    "minhash_lsh": _jaccard_pairs_oracle(0.8),
    # 13-gram contamination rule, mirrored shingle construction (short docs
    # fold to one full-sequence shingle on both sides).
    "gumbel_topk": f"""
        WITH scored AS (
          SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens
          FROM documents
        ),
        keyed AS (
          SELECT doc_id, n_tokens,
                 ROUND(n_tokens / 40.0
                       - ln(-ln((CAST('0x' || substr(
                             md5('42:' || doc_id::VARCHAR), 1, 15)
                           AS BIGINT) % 1000000 + 0.5) / 1000000.0)),
                       6)::DOUBLE AS gumbel_key
          FROM scored
        )
        SELECT doc_id, n_tokens, gumbel_key FROM keyed
        ORDER BY gumbel_key DESC, doc_id ASC
        LIMIT 50
    """,
    "dsir_weights": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(toks)-1, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
          FROM t
        ),
        b AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 1000
                   AS bkt
          FROM g
        ),
        ct AS (SELECT bkt, COUNT(*) AS c FROM b WHERE doc_id < 25
               GROUP BY bkt),
        cr AS (SELECT bkt, COUNT(*) AS c FROM b WHERE doc_id >= 25
               GROUP BY bkt),
        nt AS (SELECT COUNT(*) AS n FROM b WHERE doc_id < 25),
        nr AS (SELECT COUNT(*) AS n FROM b WHERE doc_id >= 25),
        lr AS (
          SELECT r.bkt,
                 ln((COALESCE(ct.c, 0) + 1.0) / (nt.n + 1000.0))
               - ln((COALESCE(cr.c, 0) + 1.0) / (nr.n + 1000.0)) AS lr
          FROM (SELECT DISTINCT bkt FROM b) r
          LEFT JOIN ct USING (bkt) LEFT JOIN cr USING (bkt), nt, nr
        )
        SELECT b.doc_id,
               COUNT(*)::BIGINT AS n_grams,
               ROUND(SUM(l.lr), 6) AS log_weight
        FROM b JOIN lr l USING (bkt)
        WHERE b.doc_id >= 25
        GROUP BY b.doc_id
    """,
    "contamination_report": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(toks)-12, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+12), ' ')))) AS s
          FROM t
        ),
        tr AS (SELECT DISTINCT s FROM sh WHERE doc_id >= 25)
        SELECT e.doc_id,
               COUNT(*)::BIGINT AS n_shingles,
               SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_hit,
               ROUND(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0
                         END)::DOUBLE / COUNT(*), 6) AS hit_frac
        FROM sh e LEFT JOIN tr ON e.s = tr.s
        WHERE e.doc_id < 25
        GROUP BY e.doc_id
    """,
    "decontaminate": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(toks)-12, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+12), ' ')))) AS s
          FROM t
        ),
        ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 25),
        bad AS (
          SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.s = ev.s
          WHERE sh.doc_id >= 25
        )
        SELECT doc_id FROM documents
        WHERE doc_id >= 25 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    # Connected components over the same pair set: recursive CTE computes
    # each node's min reachable id — its star's centre (or the node itself)
    # once the Spark large-star/small-star loop converges.
    "dedup_clusters": f"""
        WITH RECURSIVE shingled AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                6) >= 0.8
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM jp
          UNION ALL SELECT id_b, id_a FROM jp
        ),
        r(n, m) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
        )
        SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n
    """,
    # dedup_best_keep: same connected components, then per-cluster argmax
    # by (text length desc, doc_id asc) — the keep-best-copy election.
    "dedup_best_keep": f"""
        WITH RECURSIVE shingled AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                6) >= 0.8
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM jp
          UNION ALL SELECT id_b, id_a FROM jp
        ),
        r(n, m) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
        ),
        cl AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n)
        SELECT doc_id, cluster_id,
               (ROW_NUMBER() OVER (
                  PARTITION BY cluster_id
                  ORDER BY length(d.text) DESC, doc_id ASC
                ) = 1) AS keep
        FROM cl JOIN (SELECT doc_id AS did, text FROM documents) d
          ON cl.doc_id = d.did
    """,
    "hard_negatives": """
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                            DESC, c.vec_id ASC
                 ) AS rank
          FROM embeddings c
          CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
          WHERE c.vec_id != q.vec_id AND c.label != q.label
        ) WHERE rank <= 5
    """,
    "simhash": f"""
        SELECT doc_id,
               list_sum(list_transform(range(0, 60), i ->
                   CASE WHEN len(list_filter(hashes, h -> (h >> i) & 1 = 1)) * 2
                             >= len(hashes)
                        THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
        FROM (SELECT doc_id, {_HASHES} AS hashes
              FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
    """,
    "embedding_dedup": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
    """,
    "cosine_topk": """
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                            DESC, c.vec_id ASC
                 ) AS rank
          FROM embeddings c
          CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
          WHERE c.vec_id != q.vec_id
        ) WHERE rank <= 5
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    """,
    # Stream-safe LM scoring: reference model trained on doc_id < 250,
    # every doc scored with add-k smoothing; unseen grams/prefixes count
    # 0 — identical arithmetic to the broadcast-dictionary probe.
    "lm_score_stream": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g_all AS (
          SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(toks)-1, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
          FROM t
        ),
        ref AS (SELECT gram FROM g_all WHERE doc_id < 250),
        c2 AS (SELECT gram, COUNT(*) AS c2 FROM ref GROUP BY gram),
        c1 AS (
          SELECT array_to_string(list_slice(string_split(gram, ' '), 1, 1),
                                 ' ') AS prefix,
                 COUNT(*) AS c1
          FROM ref GROUP BY prefix
        ),
        v AS (
          SELECT COUNT(DISTINCT tok) AS V
          FROM (SELECT unnest(toks) AS tok FROM t WHERE doc_id < 250)
        ),
        scored AS (
          SELECT g_all.doc_id,
                 -LN((COALESCE(c2.c2, 0) + 0.5) /
                     (COALESCE(c1.c1, 0) + 0.5 * v.V)) AS nlp
          FROM g_all
          LEFT JOIN c2 USING (gram)
          LEFT JOIN c1 ON c1.prefix = array_to_string(
              list_slice(string_split(g_all.gram, ' '), 1, 1), ' ')
          CROSS JOIN v
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
               ROUND(AVG(nlp), 6) AS avg_neg_logp
        FROM scored GROUP BY doc_id
    """,
    # Mixture weights: same token counts, share/target ratio, and
    # downsample-only normalization (divide by the max ratio over all
    # sources) — pure arithmetic over per-source aggregates.
    "source_mix": f"""
        WITH tgt(source, target_share) AS (
          VALUES ('src0', 0.4::DOUBLE), ('src1', 0.3::DOUBLE),
                 ('src2', 0.3::DOUBLE)
        ),
        per AS (
          SELECT source, COUNT(*) AS n_docs,
                 SUM(len({_TOKS}))::BIGINT AS n_tokens
          FROM documents GROUP BY source
        ),
        j AS (
          SELECT per.source, per.n_docs, per.n_tokens,
                 COALESCE(tgt.target_share, 0.0)::DOUBLE AS target_share
          FROM per LEFT JOIN tgt USING (source)
        ),
        r AS (
          SELECT *,
                 n_tokens / SUM(n_tokens) OVER () AS share,
                 target_share / (n_tokens / SUM(n_tokens) OVER ()) AS raw
          FROM j
        )
        SELECT source, n_docs, n_tokens,
               ROUND(share, 6) AS token_share,
               target_share,
               ROUND(CASE WHEN MAX(raw) OVER () > 0
                          THEN raw / MAX(raw) OVER ()
                          ELSE 0.0 END, 6) AS weight
        FROM r
    """,
    # Int8 quantization replayed exactly: per-vector scale = max|x|/127,
    # ROUND-half-away codes (both engines), INTEGER dot/norms (exact in
    # double at these magnitudes), one double division + round; a zero
    # vector's norm product clamps to 1, so it scores 0.
    "cosine_topk_int8": """
        WITH base AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   AS mx
          FROM embeddings
        ),
        qz AS (
          SELECT vec_id,
                 CASE WHEN mx = 0
                      THEN list_transform(embedding, x -> 0::BIGINT)
                      ELSE list_transform(embedding,
                           x -> CAST(ROUND(x::DOUBLE / (mx / 127.0), 0)
                                     AS BIGINT))
                 END AS qv
          FROM base
        ),
        n AS (
          SELECT vec_id, qv,
                 list_sum(list_transform(qv, x -> x * x)) AS n2
          FROM qz
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROUND(list_dot_product(c.qv, q.qv)
                       / SQRT(CASE WHEN c.n2 = 0 OR q.n2 = 0 THEN 1.0
                                   ELSE c.n2::DOUBLE * q.n2 END), 6)
                   AS cosine_q
          FROM n c
          CROSS JOIN (SELECT * FROM n WHERE vec_id < 10) q
          WHERE c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, cosine_q, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine_q DESC, neighbor_id ASC
                    ) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
    # Bigram LM scoring replayed exactly: same multiset bigrams (full-
    # sequence gram for <2-token docs), same add-0.5 smoothing over
    # prefix-marginal counts and the distinct-token vocabulary. Spark
    # joins on xxhash64 of the gram; the oracle joins on the gram string —
    # identical results modulo 64-bit collisions (none at this scale).
    "lm_score": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(toks)-1, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
          FROM t
        ),
        c2 AS (SELECT gram, COUNT(*) AS c2 FROM g GROUP BY gram),
        c1 AS (
          SELECT array_to_string(list_slice(string_split(gram, ' '), 1, 1),
                                 ' ') AS prefix,
                 COUNT(*) AS c1
          FROM g GROUP BY prefix
        ),
        v AS (
          SELECT COUNT(DISTINCT tok) AS V
          FROM (SELECT unnest(toks) AS tok FROM t)
        ),
        scored AS (
          SELECT g.doc_id,
                 -LN((c2.c2 + 0.5) /
                     (c1.c1 + 0.5 * v.V)) AS nlp
          FROM g
          JOIN c2 USING (gram)
          JOIN c1 ON c1.prefix = array_to_string(
              list_slice(string_split(g.gram, ' '), 1, 1), ' ')
          CROSS JOIN v
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
               ROUND(AVG(nlp), 6) AS avg_neg_logp
        FROM scored GROUP BY doc_id
    """,
    # Replays synth_wav's closed-form 8-bit PCM samples and decode_audio's
    # normalization ((b - 128) / 128, RMS over samples) — the REAL wave
    # header parse + PCM math is hash-checked, not just row counts.
    "multimodal_audio": """
        WITH base AS (
          SELECT doc_id AS media_id, 100 + doc_id % 50 AS n FROM documents
        ),
        s AS (
          SELECT media_id, n,
                 AVG(POW((((media_id * 31 + i * 7) % 256) - 128) / 128.0, 2))
                   AS msq
          FROM base, range(0, 149) r(i)  -- max n = 100 + 49; lateral
          WHERE i < n                    -- range args unsupported here
          GROUP BY media_id, n
        )
        SELECT media_id,
               8000 AS sample_rate,
               1 AS n_channels,
               n::BIGINT AS n_samples,
               ROUND(n / 8000.0, 6) AS duration_sec,
               ROUND(SQRT(msq), 6) AS rms
        FROM s
    """,
    "dup_window_frac": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        win AS (
          SELECT doc_id,
                 unnest(list_transform(
                     range(1, greatest(len(toks) - 3, 1) + 1),
                     i -> array_to_string(list_slice(toks, i, i + 3), ' ')
                 )) AS gram
          FROM toks
        ),
        wc AS (
          SELECT gram, COUNT(DISTINCT doc_id) AS docs FROM win GROUP BY gram
        )
        SELECT w.doc_id,
               COUNT(*)::BIGINT AS n_windows,
               SUM(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_dup_windows,
               ROUND(SUM(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                     / COUNT(*), 6) AS dup_frac
        FROM win w JOIN wc c USING (gram)
        GROUP BY w.doc_id
    """,
    "multimodal_video": """
        WITH base AS (
          SELECT doc_id AS media_id, 4 + doc_id % 6 AS nf FROM documents
        ),
        px AS (
          SELECT media_id, nf,
                 AVG(((media_id * 31 + f * 17 + i * 7) % 256)::DOUBLE) AS mp
          FROM base, range(0, 10) rf(f), range(0, 144) ri(i)
          WHERE f < nf                  -- lateral range args unsupported
          GROUP BY media_id, nf
        )
        SELECT media_id,
               8 AS width,
               6 AS height,
               nf::BIGINT AS n_frames,
               10.0::DOUBLE AS fps,
               (ROUND(nf / 10.0, 6))::DOUBLE AS duration_sec,
               ROUND(mp, 6) AS mean_pixel
        FROM px
    """,
    # Exact: the pigeonhole chunk blocking is exhaustive at radius 3, so the
    # Spark output equals this brute-force self-join over the (bit-exact,
    # see "simhash" above) per-doc hashes.
    "simhash_pairs": f"""
        WITH sims AS (
          SELECT doc_id,
                 list_sum(list_transform(range(0, 60), i ->
                     CASE WHEN len(list_filter(hashes, h -> (h >> i) & 1 = 1)) * 2
                               >= len(hashes)
                          THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
          FROM (SELECT doc_id, {_HASHES} AS hashes
                FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    # Spark's exact percentile and DuckDB's quantile_cont share the same
    # linear-interpolation definition; rounding to 4 decimals closes the
    # last-ulp gap from differing summation orders.
    "quality_percentiles": f"""
        SELECT lang AS group,
               ROUND(quantile_cont(n_tokens, 0.5), 4) AS p_50,
               ROUND(quantile_cont(n_tokens, 0.9), 4) AS p_90,
               ROUND(quantile_cont(n_tokens, 0.99), 4) AS p_99
        FROM (SELECT lang, len({_TOKS})::DOUBLE AS n_tokens FROM documents)
        GROUP BY lang
    """,
    "vocab_topk": f"""
        SELECT token, c AS count, rank FROM (
          SELECT token, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rank
          FROM (
            SELECT tok AS token, count(*)::BIGINT AS c
            FROM (SELECT unnest(toks) AS tok
                  FROM (SELECT {_TOKS} AS toks FROM documents))
            GROUP BY tok
          )
        ) WHERE rank <= 50
    """,
    # Smoothed tf-idf = tf * (ln((N+1)/(df+1)) + 1); rounding to 6 decimals
    # is part of the operator contract so ranking reproduces across engines.
    "tfidf_keywords": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        pairs AS (
          SELECT doc_id, tok, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
          GROUP BY doc_id, tok
        ),
        dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM pairs GROUP BY tok),
        n AS (SELECT count(*)::BIGINT AS n FROM documents),
        scored AS (
          SELECT p.doc_id, p.tok,
                 ROUND(p.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
          FROM pairs p JOIN dfreq d ON p.tok = d.tok CROSS JOIN n
        )
        SELECT doc_id, tok AS token, tfidf, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
          ) AS rank FROM scored
        ) WHERE rank <= 3
    """,
    # The greedy per-shard walk replayed as a recursive CTE: same md5 shard
    # arithmetic, same in-order overflow rule — integer-exact.
    "sequence_pack": f"""
        WITH RECURSIVE base AS (
          SELECT doc_id, shard, n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
          FROM (
            SELECT doc_id,
                   (CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 1000000) % 4 AS shard,
                   len({_TOKS})::BIGINT AS n_tokens
            FROM documents
          )
        ),
        walk(shard, rn, doc_id, seq_id, seq_fill) AS (
          SELECT shard, rn, doc_id, 0::BIGINT, n_tokens
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.shard, b.rn, b.doc_id,
                 CASE WHEN w.seq_fill > 0 AND w.seq_fill + b.n_tokens > 256
                      THEN w.seq_id + 1 ELSE w.seq_id END,
                 CASE WHEN w.seq_fill > 0 AND w.seq_fill + b.n_tokens > 256
                      THEN b.n_tokens ELSE w.seq_fill + b.n_tokens END
          FROM walk w JOIN base b ON b.shard = w.shard AND b.rn = w.rn + 1
        )
        SELECT doc_id, shard, seq_id, seq_fill FROM walk
    """,
    # Same md5-bucket arithmetic as the Spark expressions — bit-exact.
    "hash_split": """
        SELECT doc_id,
               CASE WHEN CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 1000000 < 100000
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
    """,
    "cap_per_source": """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY (CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                             % 1000000) ASC, doc_id ASC
                 ) AS rn
          FROM documents
        ) WHERE rn <= 15
    """,
    "stratified_sample": """
        SELECT vec_id, label
        FROM (
          SELECT vec_id, label,
                 CAST(concat('0x', substr(md5('42:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                      % 1000000 AS bucket
          FROM embeddings
        )
        WHERE (label % 2 = 0 AND bucket < 500000) OR (label % 2 = 1)
    """,
    # The full pipeline composition: every stage mirrors its standalone
    # oracle above; minhash_lsh == brute-force Jaccard on this data (see
    # "minhash_lsh"), so the cluster stage uses exact pairs.
    "training_keepset": f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, text, {_TOKS} AS toks FROM documents
        ),
        train AS (SELECT * FROM t WHERE doc_id >= 25),
        k1 AS (  -- exact dedup: min id per normalized fingerprint
          SELECT * FROM train WHERE doc_id IN (
            SELECT MIN(doc_id) FROM train
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          )
        ),
        sh3 AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, toks FROM k1)
        ),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                6) >= 0.8
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM jp
          UNION ALL SELECT id_b, id_a FROM jp
        ),
        r(n, m) AS (
          SELECT doc_id, doc_id FROM k1
          UNION
          SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
        ),
        k2 AS (  -- one representative per near-dup component
          SELECT k1.* FROM k1 JOIN (
            SELECT n AS doc_id FROM r GROUP BY n HAVING n = MIN(m)
          ) reps USING (doc_id)
        ),
        sh13 AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(toks)-12, 1)+1),
              i -> array_to_string(list_slice(toks, i, i+12), ' ')))) AS s
          FROM t
        ),
        ev AS (SELECT DISTINCT s FROM sh13 WHERE doc_id < 25),
        bad AS (
          SELECT DISTINCT sh13.doc_id FROM sh13 JOIN ev ON sh13.s = ev.s
          WHERE sh13.doc_id >= 25
        ),
        k3 AS (SELECT * FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        rep2 AS (
          SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS ratio FROM (
            SELECT doc_id, gram, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(
                  range(1, greatest(len(toks)-1, 1)+1),
                  i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
              FROM (SELECT doc_id, toks FROM k3)
            ) GROUP BY doc_id, gram
          ) GROUP BY doc_id
        ),
        k4 AS (
          SELECT k3.doc_id FROM k3
          JOIN rep2 USING (doc_id)
          WHERE len(k3.toks) >= 25 AND ROUND(rep2.ratio, 6) <= 0.1
        )
        SELECT doc_id FROM k4
        WHERE CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000 >= 100000
    """,
}

# The stream-safe decontaminator produces identical survivors to the batch
# join path by construction — it shares the oracle verbatim.
PIPELINE_ORACLE_SQL["decontaminate_stream"] = PIPELINE_ORACLE_SQL["decontaminate"]

# Dim-dependent oracles register only when the oracle-SF testdata was
# readable at import (_ORACLE_DIM / centroid derivation); otherwise the
# driver's weaker rows-only check applies instead of a spurious failure.
if _ORACLE_DIM is not None:
    PIPELINE_ORACLE_SQL["label_centroids"] = f"""
        SELECT label, i::BIGINT AS dim,
               ROUND(SUM(embedding[i + 1]::DOUBLE) / COUNT(*), 6) AS centroid
        FROM embeddings, range(0, {_ORACLE_DIM}) r(i)
        GROUP BY label, i
    """

# Both ANN paths are fully deterministic (md5-derived hyperplanes,
# md5-ordered k-means sample), so even the "approximate" results have
# exact oracles.
_lsh_oracle = _lsh_ann_oracle()
if _lsh_oracle is not None:
    PIPELINE_ORACLE_SQL["lsh_ann_topk"] = _lsh_oracle

_ivf_oracle = _ivf_ann_oracle()
if _ivf_oracle is not None:
    PIPELINE_ORACLE_SQL["ivf_ann_topk"] = _ivf_oracle

_distill_oracle = _distill_pairs_oracle()
if _distill_oracle is not None:
    PIPELINE_ORACLE_SQL["distill_pairs"] = _distill_oracle


def _ref_distill_oracle() -> str | None:
    """DuckDB replica of ``q_ref_distill``: the full distill_pairs
    oracle nests as a CTE (its own centroid VALUES + CE replay), the
    leakage_free_split recursive-CTE cluster discovery runs beside it,
    and the final join replays hash_split's md5 arithmetic on the
    POSITIVE's cluster id. None (rows-only) when the distill base is
    unavailable at import (missing testdata)."""
    base = _distill_pairs_oracle()
    if base is None:
        return None
    return f"""
        WITH RECURSIVE shingled AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        ),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                6) >= 0.8
        ),
        e AS (
          SELECT id_a AS a, id_b AS b FROM jp
          UNION ALL SELECT id_b, id_a FROM jp
        ),
        r(n, m) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
        ),
        cl AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n),
        d AS ({base})
        SELECT d.query_id, d.pos_id, d.neg_id, d.margin, d.neg_rank,
               cl.cluster_id,
               CASE WHEN CAST(concat('0x', substr(
                        md5('42:' || CAST(cl.cluster_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 1000000 < 100000
                    THEN 'test' ELSE 'train' END AS split
        FROM d JOIN cl ON cl.doc_id = d.pos_id
    """


_ref_distill = _ref_distill_oracle()
if _ref_distill is not None:
    PIPELINE_ORACLE_SQL["ref_distill"] = _ref_distill


def _hard_negatives_ann_oracle() -> str | None:
    """Exact DuckDB replica of ``q_hard_negatives_ann``: the same
    re-derived centroid VALUES as ``_ivf_ann_oracle``, the 6-cell probe,
    an over-fetch rank <= k + max_positives (5 + 64), then the
    same-label positive filter and the bounded re-rank — replaying the
    IVF engine of ``mine_hard_negatives`` step for step."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC, c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        corpus_cell AS (SELECT vec_id, i AS cell FROM ranked WHERE rn = 1),
        query_cell AS (
          SELECT vec_id, i AS cell FROM ranked WHERE rn <= 6 AND vec_id < 10
        ),
        cand AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC
                 ) AS rank
          FROM (
            SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]), 6)
                       AS cosine
            FROM corpus_cell cb
            JOIN query_cell qb ON cb.cell = qb.cell
            JOIN embeddings c ON c.vec_id = cb.vec_id
            JOIN embeddings q ON q.vec_id = qb.vec_id
            WHERE cb.vec_id != qb.vec_id
          )
        ),
        negs AS (
          SELECT cand.query_id, cand.neighbor_id, cand.cosine
          FROM cand
          JOIN embeddings cq ON cq.vec_id = cand.query_id
          JOIN embeddings cn ON cn.vec_id = cand.neighbor_id
          WHERE cand.rank <= 69 AND cq.label != cn.label
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC
                 ) AS rank
          FROM negs
        ) WHERE rank <= 5
    """


_hn_ann_oracle = _hard_negatives_ann_oracle()
if _hn_ann_oracle is not None:
    PIPELINE_ORACLE_SQL["hard_negatives_ann"] = _hn_ann_oracle


# --- Round-4 pipeline additions: chunking / retrieval / redaction / gate ----

PIPELINE_ORACLE_SQL["chunk_documents"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 0 THEN 0
                  WHEN len(toks) <= 32 THEN 1
                  ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
      FROM t)
    SELECT doc_id,
           i AS chunk_id,
           len(list_slice(toks, i*24+1, i*24+32))::BIGINT AS n_chunk_tokens,
           array_to_string(list_slice(toks, i*24+1, i*24+32), ' ') AS chunk_text
    FROM c, unnest(range(0, n_chunks)) AS u(i)
"""

PIPELINE_ORACLE_SQL["bm25_topk"] = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM d)
      WHERE t IN ('hash', 'join', 'spill', 'window')
      GROUP BY doc_id, t),
    dfreq AS (SELECT t, count(*) AS df FROM hits GROUP BY t)
    SELECT h.doc_id AS doc_id,
           ROUND(SUM(
               ln(1 + (s.N - f.df + 0.5) / (f.df + 0.5))
               * (h.tf * 2.2)
               / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
           ), 6) AS score
    FROM hits h JOIN dl l USING (doc_id) JOIN dfreq f USING (t), stats s
    GROUP BY h.doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PII_SSN = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
_PII_PHONE = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

PIPELINE_ORACLE_SQL["redact_pii"] = f"""
    WITH s0 AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com at 10.0.'
                  || (doc_id % 256) || '.7 ssn 123-45-6789 tel 555-123-4567'
                 AS text
      FROM documents),
    s1 AS (SELECT doc_id,
             len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT AS n_email,
             regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS text
           FROM s0),
    s2 AS (SELECT doc_id, n_email,
             len(regexp_extract_all(text, '{_PII_IP}'))::BIGINT AS n_ipv4,
             regexp_replace(text, '{_PII_IP}', '<IP>', 'g') AS text
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ipv4,
             len(regexp_extract_all(text, '{_PII_SSN}'))::BIGINT AS n_ssn,
             regexp_replace(text, '{_PII_SSN}', '<SSN>', 'g') AS text
           FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ipv4, n_ssn,
             len(regexp_extract_all(text, '{_PII_PHONE}'))::BIGINT AS n_phone,
             regexp_replace(text, '{_PII_PHONE}', '<PHONE>', 'g') AS text
           FROM s3)
    SELECT doc_id, text, n_email, n_ipv4, n_ssn, n_phone,
           (n_email + n_ipv4 + n_ssn + n_phone)::BIGINT AS n_pii
    FROM s4
"""

PIPELINE_ORACLE_SQL["quality_filter"] = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (SELECT doc_id,
            len(toks) AS n,
            list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                / NULLIF(len(toks), 0) AS avg_len,
            len(list_filter(toks, t -> list_contains([{_sw}], t)))::DOUBLE
                / NULLIF(len(toks), 0) AS swr,
            len(list_distinct(toks))::DOUBLE
                / NULLIF(len(toks), 0) AS uqr,
            (length(text)
             - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                / NULLIF(length(text), 0) AS dgr
          FROM t),
    r AS (SELECT doc_id, n,
            list_filter([
              CASE WHEN n < 20 THEN 'too_few_tokens' END,
              CASE WHEN n > 100000 THEN 'too_many_tokens' END,
              CASE WHEN avg_len < 2.0 OR avg_len > 12.0
                   THEN 'bad_avg_token_len' END,
              CASE WHEN swr < 0.03 THEN 'low_stopword_ratio' END,
              CASE WHEN uqr < 0.2 THEN 'low_unique_ratio' END,
              CASE WHEN dgr > 0.3 THEN 'high_digit_ratio' END
            ], x -> x IS NOT NULL) AS reasons
          FROM m)
    SELECT doc_id, n::BIGINT AS n_tokens, len(reasons) = 0 AS keep,
           COALESCE(array_to_string(reasons, ','), '') AS reasons
    FROM r
"""

PIPELINE_ORACLE_SQL["token_histogram"] = f"""
    SELECT (len(toks) // 20 * 20)::BIGINT AS bucket,
           count(*) AS n_docs,
           SUM(len(toks))::BIGINT AS total_tokens
    FROM (SELECT {_TOKS} AS toks FROM documents)
    GROUP BY 1
"""

PIPELINE_ORACLE_SQL["chunk_dedup"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, i AS chunk_id,
             array_to_string(list_slice(toks, i*32+1, i*32+32), ' ') AS chunk
      FROM t, unnest(range(0,
          CASE WHEN len(toks) <= 0 THEN 0
               WHEN len(toks) <= 32 THEN 1
               ELSE (len(toks) - 32 + 31) // 32 + 1 END)) u(i)),
    r AS (SELECT md5(chunk) AS fingerprint, doc_id, chunk_id,
                 count(*) OVER (PARTITION BY md5(chunk)) AS dup_count,
                 row_number() OVER (PARTITION BY md5(chunk)
                                    ORDER BY doc_id, chunk_id) AS rn
          FROM c)
    SELECT fingerprint, doc_id AS keep_doc_id, chunk_id AS keep_chunk_id,
           dup_count::BIGINT AS dup_count
    FROM r WHERE rn = 1 AND dup_count > 1
"""

PIPELINE_ORACLE_SQL["corpus_report"] = f"""
    SELECT source, lang,
           count(*) AS n_docs,
           SUM(len({_TOKS}))::BIGINT AS total_tokens,
           count(DISTINCT md5({_NORM})) AS distinct_docs,
           ROUND(1.0 - count(DISTINCT md5({_NORM}))::DOUBLE / count(*), 6)
               AS dup_ratio
    FROM documents
    GROUP BY source, lang
"""

# Composes the lm_score oracle: same scores, per-source quantile_cont
# threshold (rounded to 6 dp like the Spark side), ties kept.
PIPELINE_ORACLE_SQL["corpus_rollup"] = f"""
    SELECT source, lang,
           count(*) AS n_docs,
           SUM(len({_TOKS}))::BIGINT AS total_tokens
    FROM documents
    GROUP BY ROLLUP(source, lang)
"""

PIPELINE_ORACLE_SQL["quality_buckets"] = f"""
    WITH scored AS ({PIPELINE_ORACLE_SQL["lm_score"]}),
    with_src AS (
      SELECT s.doc_id, d.source, s.avg_neg_logp
      FROM scored s JOIN documents d USING (doc_id)
    ),
    thr AS (
      SELECT source,
             ROUND(quantile_cont(avg_neg_logp, 1.0/3), 6) AS t0,
             ROUND(quantile_cont(avg_neg_logp, 2.0/3), 6) AS t1
      FROM with_src WHERE avg_neg_logp IS NOT NULL GROUP BY source
    )
    SELECT w.doc_id, w.source, w.avg_neg_logp,
           CASE WHEN w.avg_neg_logp IS NULL THEN NULL
                WHEN w.avg_neg_logp <= t.t0 THEN 'head'
                WHEN w.avg_neg_logp <= t.t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM with_src w JOIN thr t USING (source)
"""

PIPELINE_ORACLE_SQL["quality_topfrac"] = f"""
    WITH scored AS ({PIPELINE_ORACLE_SQL["lm_score"]}),
    with_src AS (
      SELECT s.doc_id, d.source, s.avg_neg_logp
      FROM scored s JOIN documents d USING (doc_id)
      WHERE s.avg_neg_logp IS NOT NULL
    ),
    thr AS (
      SELECT source,
             ROUND(quantile_cont(avg_neg_logp, 0.3), 6) AS thr
      FROM with_src GROUP BY source
    )
    SELECT w.doc_id, w.source, w.avg_neg_logp
    FROM with_src w JOIN thr t USING (source)
    WHERE w.avg_neg_logp <= t.thr
"""


def _project_oracle() -> str | None:
    """UNION ALL of one literal-sign dot product per output dim, summed
    left-to-right exactly like the Spark fold (0 + t1 + t2 ... is
    IEEE-identical to the fold's accumulator), so doubles hash-match."""
    if _ORACLE_DIM is None:
        return None
    from polars_nexpresso_spark.functions.similarity import rademacher_matrix

    import math

    mat = rademacher_matrix(16, _ORACLE_DIM, 42)
    inv = 1.0 / math.sqrt(16)
    parts = []
    for j, row in enumerate(mat):
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * {s!r}" for i, s in enumerate(row)
        )
        parts.append(
            f"SELECT vec_id, {j}::BIGINT AS j, "
            f"ROUND((0.0 + {terms}) * {inv!r}, 6) AS proj FROM embeddings"
        )
    return " UNION ALL ".join(parts)


_proj_oracle = _project_oracle()
if _proj_oracle is not None:
    PIPELINE_ORACLE_SQL["project_embeddings"] = _proj_oracle

# chr(768) is U+0300 COMBINING GRAVE ACCENT — the decomposed salt; NFC
# must fold letter+grave into the single precomposed codepoint.
PIPELINE_ORACLE_SQL["unicode_nfc"] = """
    SELECT doc_id,
           nfc_normalize(text || ' '
               || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         (doc_id % 26)::INT + 1, 1)
               || chr(768)) AS text,
           length(nfc_normalize(text || ' '
               || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         (doc_id % 26)::INT + 1, 1)
               || chr(768))) AS n_chars_nfc
    FROM documents
"""

PIPELINE_ORACLE_SQL["corpus_diff"] = f"""
    WITH old AS (
      SELECT doc_id, md5({_NORM}) AS ofp FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN reverse(text) ELSE text END
                   AS text
        FROM documents WHERE doc_id < 400)
    ),
    new AS (SELECT doc_id, md5({_NORM}) AS nfp FROM documents)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.ofp IS NULL THEN 'added'
                WHEN n.nfp IS NULL THEN 'removed'
                WHEN o.ofp = n.nfp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

PIPELINE_ORACLE_SQL["boilerplate_tokens"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    bar AS (
      SELECT CAST(ceil(count(*) * 0.5) AS BIGINT) AS b FROM documents
    ),
    boiler AS (
      SELECT tok FROM toks GROUP BY tok
      HAVING count(DISTINCT doc_id) >= (SELECT b FROM bar)
    ),
    bl AS (SELECT coalesce(list(tok), []) AS l FROM boiler)
    SELECT d.doc_id,
           coalesce(array_to_string(k.kept, ' '), '') AS clean_text,
           len(k.kept)::BIGINT AS n_kept,
           (len(string_split(d.text, ' ')) - len(k.kept))::BIGINT
               AS n_removed
    FROM documents d, bl,
         LATERAL (
           SELECT list_filter(
                    string_split(d.text, ' '),
                    x -> NOT list_contains(bl.l, x)
                  ) AS kept
         ) k
"""

# exact_substring_dedup: positional window replay — occurrences group by
# window STRING (Spark groups by xxhash64 of it: the same partition of
# windows), canonical first = ROW_NUMBER over (doc_id, pos), covered
# token positions fan out by the window width, reassembly is an indexed
# list_filter. Window = 4, matching q_exact_substring_dedup.
PIPELINE_ORACLE_SQL["exact_substring_dedup"] = """
    WITH t AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
      FROM t WHERE len(toks) >= 4
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(toks, i, i + 3), ' ') AS win
      FROM w
    ),
    dup AS (SELECT win FROM occ GROUP BY win HAVING count(*) >= 2),
    ranked AS (
      SELECT o.doc_id, o.pos,
             ROW_NUMBER() OVER (
               PARTITION BY o.win ORDER BY o.doc_id, o.pos
             ) AS rn
      FROM occ o JOIN dup USING (win)
    ),
    rem AS (
      SELECT DISTINCT doc_id, pos + d AS tp
      FROM ranked CROSS JOIN (SELECT unnest(range(0, 4)) AS d)
      WHERE rn > 1
    ),
    rl AS (SELECT doc_id, list(tp) AS rml FROM rem GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(
             array_to_string(list_transform(k.kept, p -> toks[p + 1]), ' '),
             ''
           ) AS clean_text,
           len(k.kept)::BIGINT AS n_kept,
           (len(toks) - len(k.kept))::BIGINT AS n_removed
    FROM t LEFT JOIN rl USING (doc_id),
         LATERAL (
           SELECT list_filter(range(0, len(toks)),
                              p -> NOT list_contains(coalesce(rml, []), p))
               AS kept
         ) k
"""

PIPELINE_ORACLE_SQL["temperature_mix"] = f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len({_TOKS}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT *, n_tokens / SUM(n_tokens) OVER () AS share FROM per
    ),
    r AS (
      SELECT *,
             pow(share, 0.3) / SUM(pow(share, 0.3)) OVER () AS target
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           ROUND(share, 6) AS token_share,
           ROUND(target, 6) AS target_share,
           ROUND((target / share) / MAX(target / share) OVER (), 6)
               AS weight
    FROM r
"""

# leakage_free_split: the dedup_clusters recursive CTE + hash_split's
# md5 arithmetic applied to the CLUSTER id.
PIPELINE_ORACLE_SQL["leakage_free_split"] = f"""
    WITH RECURSIVE shingled AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    jp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
            6) >= 0.8
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp
    ),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
    ),
    cl AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n)
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(concat('0x', substr(
                    md5('42:' || CAST(cluster_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000 < 100000
                THEN 'test' ELSE 'train' END AS split
    FROM cl
"""

_FIXED_BOILER_LIST = ", ".join(f"'{t}'" for t in FIXED_BOILER_TOKENS)
PIPELINE_ORACLE_SQL["fixed_boilerplate"] = f"""
    SELECT doc_id,
           array_to_string(k.kept, ' ') AS clean_text,
           len(k.kept)::BIGINT AS n_kept,
           (len(string_split(coalesce(text, ''), ' ')) - len(k.kept))::BIGINT
               AS n_removed
    FROM documents,
         LATERAL (
           SELECT list_filter(
                    string_split(coalesce(text, ''), ' '),
                    x -> NOT list_contains([{_FIXED_BOILER_LIST}], x)
                  ) AS kept
         ) k
"""


def _semantic_dedup_oracle() -> str | None:
    """Exact DuckDB replica of ``q_semantic_dedup``: the deterministic
    k-means centroids re-derive Spark-free (same machinery as
    ``_ivf_ann_oracle``) and embed as literal VALUES; cell assignment
    (nearest centroid, ties to the lowest index) and the
    drop-if-smaller-id-neighbor rule replay in SQL."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n             ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        cell AS (SELECT vec_id, i AS cluster_id FROM ranked WHERE rn = 1),
        dropped AS (
          SELECT DISTINCT a.vec_id
          FROM cell a
          JOIN cell b
            ON a.cluster_id = b.cluster_id AND a.vec_id > b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                             eb.embedding::DOUBLE[]), 6)
                >= 0.3
        )
        SELECT c.vec_id, c.cluster_id::BIGINT AS cluster_id,
               (d.vec_id IS NULL) AS keep
        FROM cell c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


_sem_oracle = _semantic_dedup_oracle()
if _sem_oracle is not None:
    PIPELINE_ORACLE_SQL["semantic_dedup"] = _sem_oracle

PIPELINE_ORACLE_SQL["intradoc_dedup"] = """
    SELECT d.doc_id,
           coalesce(array_to_string(k.kept, ' '), '') AS clean_text,
           len(k.kept)::BIGINT AS n_kept,
           (len(string_split(d.text, ' ')) - len(k.kept))::BIGINT
               AS n_removed
    FROM documents d,
         LATERAL (
           SELECT list_filter(
                    string_split(d.text, ' '),
                    (x, i) -> list_position(
                                list_slice(string_split(d.text, ' '),
                                           1, i - 1),
                                x
                              ) = 0
                  ) AS kept
         ) k
"""

PIPELINE_ORACLE_SQL["source_overlap"] = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
          range(1, greatest(len(toks)-12, 1)+1),
          i -> array_to_string(list_slice(toks, i, i+12), ' ')))) AS s
      FROM t
    ),
    sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*)::BIGINT AS n_shared,
           ROUND(count(*)::DOUBLE
                 / (any_value(sa.sz) + any_value(sb.sz) - count(*)),
                 6) AS jaccard
    FROM sh a
    JOIN sh b ON a.s = b.s AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source
"""

PIPELINE_ORACLE_SQL["token_budget"] = f"""
    WITH t AS (
      SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens,
             CAST(concat('0x',
                  substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, n_tokens, cum_tokens FROM (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS cum_tokens
      FROM t
    ) WHERE cum_tokens <= 10000
"""

PIPELINE_ORACLE_SQL["nb_quality"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    cp AS (
      SELECT token, count(*) AS c FROM toks WHERE doc_id < 100
      GROUP BY token
    ),
    cn AS (
      SELECT token, count(*) AS c FROM toks WHERE doc_id >= 100
      GROUP BY token
    ),
    vocab AS (
      SELECT coalesce(cp.token, cn.token) AS token,
             coalesce(cp.c, 0) AS cp, coalesce(cn.c, 0) AS cn
      FROM cp FULL OUTER JOIN cn ON cp.token = cn.token
    ),
    tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM vocab),
    model AS (
      SELECT token,
             ln((cp + 0.5) / (np + 0.5 * v))
               - ln((cn + 0.5) / (nn + 0.5 * v)) AS lo
      FROM vocab, tot
    )
    SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
           ROUND(sum(coalesce(m.lo, 0)) / count(*), 6) AS nb_logodds
    FROM toks t LEFT JOIN model m ON t.token = m.token
    GROUP BY t.doc_id
"""

PIPELINE_ORACLE_SQL["nb_quality_stream"] = PIPELINE_ORACLE_SQL["nb_quality"]

# audio_near_dup: replay synth_wav's closed form (sample i of id m is
# (m*31 + i*7) % 256 over 100 + m % 50 samples), the 61-window integer
# energy contour, the delta-sign bit pack, and the radius-3 pair set.
# token_shift: add-0.5 smoothed unigram JS contributions over the UNION
# vocab, first vs second half of the corpus; 9-decimal rounding is part
# of the contract so the ranking is engine-reproducible.
PIPELINE_ORACLE_SQL["token_shift"] = f"""
    WITH co AS (
      SELECT tok, count(*)::BIGINT AS c
      FROM (SELECT unnest(toks) AS tok
            FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id < 250))
      GROUP BY tok
    ),
    cn AS (
      SELECT tok, count(*)::BIGINT AS c
      FROM (SELECT unnest(toks) AS tok
            FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id >= 250))
      GROUP BY tok
    ),
    m AS (
      SELECT coalesce(co.tok, cn.tok) AS token,
             coalesce(co.c, 0) AS count_old,
             coalesce(cn.c, 0) AS count_new
      FROM co FULL JOIN cn ON co.tok = cn.tok
    ),
    s AS (
      SELECT sum(count_old) AS no, sum(count_new) AS nn, count(*) AS v
      FROM m
    ),
    jx AS (
      SELECT token, count_old, count_new,
             (count_old + 0.5) / (s.no + 0.5 * s.v) AS q,
             (count_new + 0.5) / (s.nn + 0.5 * s.v) AS p
      FROM m, s
    ),
    sc AS (
      SELECT token, count_old, count_new,
             ROUND((q * ln(q / ((p + q) / 2))
                    + p * ln(p / ((p + q) / 2))) / 2, 9) AS js_contrib,
             CASE WHEN p >= q THEN 1 ELSE -1 END AS direction
      FROM jx
    )
    SELECT token, count_old, count_new, js_contrib, direction, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY js_contrib DESC, token ASC) AS rank
      FROM sc
    ) WHERE rank <= 20
"""

PIPELINE_ORACLE_SQL["audio_near_dup"] = """
    WITH s AS (
      SELECT doc_id AS media_id, 100 + doc_id % 50 AS n,
             list_transform(range(0, 100 + doc_id % 50),
                            i -> (doc_id*31 + i*7) % 256) AS smp
      FROM documents
    ),
    e AS (
      SELECT media_id,
             list_transform(range(0, 61), w ->
               coalesce(list_sum(list_slice(smp, (w*n)//61 + 1,
                                            ((w+1)*n)//61)), 0)) AS en
      FROM s
    ),
    f AS (
      SELECT media_id,
             list_sum(list_transform(range(0, 60), i ->
               CASE WHEN en[i+2] >= en[i+1]
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT
               AS afp
      FROM e
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.afp, b.afp))::INTEGER AS hamming
    FROM f a JOIN f b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.afp, b.afp)) <= 3
"""

PIPELINE_ORACLE_SQL["image_near_dup"] = """
    WITH gray AS (
      SELECT doc_id,
             list_transform(range(0, 60), p ->
               (((doc_id*31 + (3*p)*7) % 256)
                + ((doc_id*31 + (3*p+1)*7) % 256)
                + ((doc_id*31 + (3*p+2)*7) % 256)) // 3
             ) AS g
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 60), p ->
               CASE WHEN g[p+1] >= list_sum(g) // 60
                    THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT
               AS ahash
      FROM gray
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::INTEGER AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""


# --- round-7 (session 2) additions ------------------------------------------


def q_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping: the corpus text is wrapped in a deterministic
    HTML shell built from doc_id (style + script payloads, a comment,
    block tags, a <br/>, and every entity the decode table knows), so
    the oracle exercises EVERY stage of the cleaning chain — block
    boundaries to newlines, tag strip, single-pass entity decode, and
    whitespace squeeze — rather than matching nothing."""
    from polars_nexpresso_spark.functions.markup import strip_markup

    docs = spread(read_table(spark, sf_dir, "documents"))
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p color red</style><script>var j = "),
            F.col("doc_id"),
            F.lit(";</script></head><body><!-- c "),
            F.col("doc_id"),
            F.lit(" --><h1>Doc &amp; "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><div>tail &lt;"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&gt;&nbsp;end<br/></div></body></html>"),
        ).alias("text"),
    )
    out = strip_markup(salted, "text")
    return out.select("doc_id", "text", "had_markup")


PIPELINE_QUERIES["strip_markup"] = q_strip_markup


def _markup_sql_chain(expr: str) -> str:
    """The DuckDB replay of the full cleaning chain, generated from the
    SAME ordered pattern tables the Spark expression uses — the two
    engines cannot drift apart."""
    from polars_nexpresso_spark.functions.markup import (
        ENTITY_DECODES,
        MARKUP_PATTERNS,
        SQUEEZE_PATTERNS,
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def rep_sql(s: str) -> str:
        return "chr(10)" if s == "\n" else lit(s)

    out = expr
    for _, pattern, replacement in MARKUP_PATTERNS:
        out = f"regexp_replace({out}, {lit(pattern)}, {rep_sql(replacement)}, 'g')"
    for entity, char in ENTITY_DECODES:
        out = f"replace({out}, {lit(entity)}, {lit(char)})"
    for _, pattern, replacement in SQUEEZE_PATTERNS:
        out = f"regexp_replace({out}, {lit(pattern)}, {rep_sql(replacement)}, 'g')"
    return out


def _markup_oracle() -> str:
    from polars_nexpresso_spark.functions.markup import (
        ENTITY_PROBE,
        TAG_PROBE,
    )

    return f"""
    WITH s AS (
      SELECT doc_id,
             '<html><head><style>p color red</style><script>var j = '
               || doc_id || ';</script></head><body><!-- c ' || doc_id
               || ' --><h1>Doc &amp; ' || (doc_id % 7) || '</h1><p>'
               || text || '</p><div>tail &lt;' || (doc_id % 5)
               || '&gt;&nbsp;end<br/></div></body></html>' AS text
      FROM documents)
    SELECT doc_id,
           {_markup_sql_chain("text")} AS text,
           COALESCE(regexp_matches(text, '{TAG_PROBE}')
                    OR regexp_matches(text, '{ENTITY_PROBE}'),
                    FALSE) AS had_markup
    FROM s
    """


PIPELINE_ORACLE_SQL["strip_markup"] = _markup_oracle()


def q_truncate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-boundary truncation at max_tokens=32: roughly half the
    synthetic docs exceed the cap, so both branches (cut / kept) carry
    real rows, and the whitespace-normalization contract is exercised
    by the corpus text itself."""
    from polars_nexpresso_spark.functions.text import truncate_tokens

    docs = spread(read_table(spark, sf_dir, "documents"))
    out = truncate_tokens(docs, "text", 32)
    return out.select(
        "doc_id", "text", "n_tokens", "was_truncated"
    )


PIPELINE_QUERIES["truncate_tokens"] = q_truncate_tokens

PIPELINE_ORACLE_SQL["truncate_tokens"] = r"""
    WITH s AS (
      SELECT doc_id, text,
             regexp_replace(text, '^\s+|\s+$', '', 'g') AS stripped
      FROM documents),
    t AS (
      SELECT doc_id, text,
             CASE WHEN length(stripped) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(stripped, '\s+') END AS toks
      FROM s)
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE COALESCE(
                  array_to_string(list_slice(toks, 1, 32), ' '), '')
           END AS text,
           COALESCE(len(toks), 0)::BIGINT AS n_tokens,
           COALESCE(len(toks) > 32, FALSE) AS was_truncated
    FROM t
"""


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planning composed over temperature mixture weights
    (alpha=0.3): budget 60k tokens against the sf corpus, max_epochs
    1.5 — at sf0.01 every source wants ~2.2 epochs so the cap binds;
    at sf0.1 the same budget wants ~0.22 so it doesn't. The two driver
    scales exercise both regimes of the plan arithmetic."""
    from polars_nexpresso_spark.functions.sampling import (
        epoch_plan,
        temperature_mix_weights,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    w = temperature_mix_weights(docs, "text", "source", alpha=0.3)
    return epoch_plan(w, token_budget=60_000, max_epochs=1.5)


PIPELINE_QUERIES["epoch_plan"] = q_epoch_plan


def q_repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized epoch plan: whole copies + the md5-chosen fractional
    extras, one (doc, epoch) row each — the corpus the trainer actually
    reads. Composes weights -> plan -> upsample end to end."""
    from polars_nexpresso_spark.functions.sampling import (
        epoch_plan,
        repeat_upsample,
        temperature_mix_weights,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    w = temperature_mix_weights(docs, "text", "source", alpha=0.3)
    plan = epoch_plan(w, token_budget=60_000, max_epochs=1.5)
    out = repeat_upsample(docs, "doc_id", plan)
    return out.select("doc_id", "source", "epoch")


PIPELINE_QUERIES["repeat_upsample"] = q_repeat_upsample


_EPOCH_PLAN_CTE = f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len({_TOKS}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT *, n_tokens / SUM(n_tokens) OVER () AS share FROM per
    ),
    r AS (
      SELECT *,
             pow(share, 0.3) / SUM(pow(share, 0.3)) OVER () AS target
      FROM s
    ),
    w AS (
      SELECT source, n_tokens, ROUND(target, 6) AS target_share FROM r
    ),
    p AS (
      SELECT source, n_tokens, target_share,
             60000 * target_share / SUM(target_share) OVER () AS tt
      FROM w
    ),
    plan AS (
      SELECT source, n_tokens, target_share,
             ROUND(tt, 2) AS target_tokens,
             ROUND(tt / n_tokens, 6) AS epochs_raw,
             ROUND(LEAST(tt / n_tokens, 1.5), 6) AS epochs,
             CAST(ROUND(ROUND(LEAST(tt / n_tokens, 1.5), 6) * n_tokens)
                  AS BIGINT) AS tokens_planned,
             tt / n_tokens > 1.5 AS capped
      FROM p
    )
"""

PIPELINE_ORACLE_SQL["epoch_plan"] = f"""
    {_EPOCH_PLAN_CTE}
    SELECT source, n_tokens, target_share, target_tokens,
           epochs_raw, epochs, tokens_planned, capped
    FROM plan
"""

PIPELINE_ORACLE_SQL["repeat_upsample"] = f"""
    {_EPOCH_PLAN_CTE},
    j AS (
      SELECT d.doc_id, d.source, plan.epochs
      FROM documents d JOIN plan USING (source)
    ),
    n AS (
      SELECT doc_id, source,
             CAST(floor(epochs) AS BIGINT)
             + CASE WHEN CAST(concat('0x',
                     substr(md5('43:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000
                  < CAST(ROUND((epochs - floor(epochs)) * 1000000) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
      FROM j
    )
    SELECT doc_id, source,
           unnest(generate_series(1, n_copies)) AS epoch
    FROM n WHERE n_copies >= 1
"""


def q_ref_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup against a reference corpus: every third
    doc plays the role of the already-ingested crawl, so exactly those
    docs' CONTENT (plus any accidental cross-doc duplicate) is dropped
    from the new batch — the anti-join carries 8-byte hashes, the
    oracle replays the same semantics on normalized text."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_against_reference,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    out = dedup_against_reference(docs, ref, "text")
    return out.select("doc_id", "source")


PIPELINE_QUERIES["ref_dedup"] = q_ref_dedup


def q_ref_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-safe probe path over the SAME inputs — identical
    survivors, so it shares the batch oracle (the stream contract
    itself is pinned by the availableNow drain test)."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_against_reference_stream,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    out = dedup_against_reference_stream(docs, ref, "text")
    return out.select("doc_id", "source")


PIPELINE_QUERIES["ref_dedup_stream"] = q_ref_dedup_stream


PIPELINE_ORACLE_SQL["ref_dedup"] = f"""
    WITH ref AS (
      SELECT DISTINCT {_NORM} AS norm
      FROM documents
      WHERE doc_id % 3 = 0 AND text IS NOT NULL
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.text IS NULL
       OR {_NORM.replace("text", "d.text")} NOT IN (SELECT norm FROM ref)
"""

PIPELINE_ORACLE_SQL["ref_dedup_stream"] = PIPELINE_ORACLE_SQL["ref_dedup"]


def q_ref_dedup_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup keyed on the ROBUST canonicalization
    (digits collapsed, ASCII punctuation stripped): the dial that makes
    "new crawl vs what we already have" catch RE-CRAWLS — the reference
    copy of a page carries last month's timestamps and view counters,
    so the exact-normalized key misses it while the robust key drops
    it. Same anti-join shape and 8-byte hash traffic as ref_dedup."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_against_reference,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    out = dedup_against_reference(docs, ref, "text", canon="robust")
    return out.select("doc_id", "source")


PIPELINE_QUERIES["ref_dedup_robust"] = q_ref_dedup_robust
PIPELINE_ORACLE_SQL["ref_dedup_robust"] = f"""
    WITH ref AS (
      SELECT DISTINCT {_RCANON} AS canon
      FROM documents
      WHERE doc_id % 3 = 0 AND text IS NOT NULL
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.text IS NULL
       OR {_RCANON.replace("text", "d.text")} NOT IN (SELECT canon FROM ref)
"""


def q_clean_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 session-2 ingest front door as ONE composed plan:

    1. markup stripping over a deterministic doc_id-salted HTML shell,
    2. reference-corpus dedup of the CLEANED text (every third doc
       plays the prior crawl — content matching happens post-cleaning,
       the order a real pipeline needs),
    3. token-boundary truncation at 32 tokens.

    Each stage is oracle-checked alone elsewhere; this row checks the
    composition hash-exactly (the dedup keys on cleaned text, the
    truncation sees dedup survivors)."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_against_reference,
    )
    from polars_nexpresso_spark.functions.markup import strip_markup
    from polars_nexpresso_spark.functions.text import truncate_tokens

    docs = spread(read_table(spark, sf_dir, "documents"))
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><!-- c "),
            F.col("doc_id"),
            F.lit(" --><p>"),
            F.col("text"),
            F.lit("</p><div>tail &lt;"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&gt;</div></body></html>"),
        ).alias("text"),
    )
    cleaned = strip_markup(salted, "text").drop("had_markup")
    ref = cleaned.filter(F.col("doc_id") % 3 == 0)
    fresh = dedup_against_reference(cleaned, ref, "text")
    out = truncate_tokens(fresh, "text", 32)
    return out.select("doc_id", "text", "n_tokens", "was_truncated")


PIPELINE_QUERIES["clean_ingest"] = q_clean_ingest


PIPELINE_ORACLE_SQL["clean_ingest"] = f"""
    WITH s AS (
      SELECT doc_id,
             '<html><body><!-- c ' || doc_id || ' --><p>' || text
               || '</p><div>tail &lt;' || (doc_id % 5)
               || '&gt;</div></body></html>' AS text
      FROM documents),
    c AS (
      SELECT doc_id, {_markup_sql_chain("text")} AS text FROM s),
    ref AS (
      SELECT DISTINCT {_NORM} AS norm
      FROM c WHERE doc_id % 3 = 0 AND text IS NOT NULL),
    fresh AS (
      SELECT doc_id, text FROM c
      WHERE text IS NULL OR {_NORM} NOT IN (SELECT norm FROM ref)),
    t AS (
      SELECT doc_id, text,
             CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(
                    regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')
             END AS toks
      FROM fresh)
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE COALESCE(array_to_string(list_slice(toks, 1, 32), ' '), '')
           END AS text,
           COALESCE(len(toks), 0)::BIGINT AS n_tokens,
           COALESCE(len(toks) > 32, FALSE) AS was_truncated
    FROM t
"""


def q_apply_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight materialization: temperature weights (alpha=0.3)
    -> per-source ppm cuts -> md5-bucket downsample. The near-uniform
    synthetic sources give weights just under 1.0, so the filter keeps
    most-but-not-all rows of most sources — both the cut arithmetic and
    the keep/drop boundary carry real rows."""
    from polars_nexpresso_spark.functions.sampling import (
        apply_mix_weights,
        temperature_mix_weights,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    w = temperature_mix_weights(docs, "text", "source", alpha=0.3)
    out = apply_mix_weights(docs, w, "doc_id")
    return out.select("doc_id", "source")


PIPELINE_QUERIES["apply_mix"] = q_apply_mix


PIPELINE_ORACLE_SQL["apply_mix"] = f"""
    WITH per AS (
      SELECT source, SUM(len({_TOKS}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT *, n_tokens / SUM(n_tokens) OVER () AS share FROM per
    ),
    r AS (
      SELECT *,
             pow(share, 0.3) / SUM(pow(share, 0.3)) OVER () AS target
      FROM s
    ),
    w AS (
      SELECT source,
             CAST(ROUND(ROUND((target / share)
                              / MAX(target / share) OVER (), 6) * 1000000)
                  AS BIGINT) AS cut
      FROM r
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN w USING (source)
    WHERE CAST(concat('0x',
            substr(md5('44:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
          AS BIGINT) % 1000000 < w.cut
"""


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k (m=8 subspaces x 16 codes over the
    dim-64 corpus, queries = vec_id < 10). The corpus plans below
    ``pq_encode``'s 2 MiB engine gate, so normalization and code
    assignment run as sequential SQL arithmetic and the deterministic
    codebooks (re-derived Spark-free in the oracle, the IVF pattern)
    yield a hash-exact oracle for an approximate index."""
    from polars_nexpresso_spark.functions.similarity import pq_ann_topk

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_ann_topk(emb, queries, k=5, m=8, n_codes=16)


PIPELINE_QUERIES["pq_ann_topk"] = q_pq_ann_topk


def _pq_oracle():
    """DuckDB replica of ``q_pq_ann_topk``: codebooks embed as VALUES;
    normalization, per-subspace nearest-codeword assignment (ties to
    the lowest index), query LUTs, and the m-ordered ADC sum replay in
    SQL. None (rows-only) if the testdata is unreadable at import."""
    try:
        from polars_nexpresso_spark.functions.similarity import (
            pq_codebooks_local,
        )

        cbs = pq_codebooks_local(
            f"{_ORACLE_SF_DIR}/embeddings.parquet", m=8, n_codes=16
        )
    except Exception:  # noqa: BLE001 — import must survive missing testdata
        return None
    sub = len(cbs[0][0])
    values = ",\n             ".join(
        f"({mi}, {ci}, [{', '.join(repr(x) for x in cw)}]::DOUBLE[])"
        for mi, cb in enumerate(cbs)
        for ci, cw in enumerate(cb)
    )
    return f"""
        WITH cb(mi, ci, v) AS (
          VALUES {values}
        ),
        n AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nn
          FROM embeddings
        ),
        u AS (
          SELECT vec_id,
                 list_transform(e, x -> x /
                   (CASE WHEN nn = 0 THEN 1.0 ELSE nn END)) AS unit
          FROM n
        ),
        d AS (
          SELECT u.vec_id, cb.mi, cb.ci,
                 list_distance(
                   list_slice(u.unit, cb.mi*{sub}+1, cb.mi*{sub}+{sub}),
                   cb.v) AS dist
          FROM u, cb
        ),
        a AS (
          SELECT vec_id, mi, ci,
                 ROW_NUMBER() OVER (
                   PARTITION BY vec_id, mi ORDER BY dist ASC, ci ASC
                 ) AS rn
          FROM d
        ),
        codes AS (
          SELECT vec_id, list(ci ORDER BY mi) AS codes
          FROM a WHERE rn = 1 GROUP BY vec_id
        ),
        ql AS (
          SELECT u.vec_id AS query_id, cb.mi, cb.ci,
                 list_inner_product(
                   list_slice(u.unit, cb.mi*{sub}+1, cb.mi*{sub}+{sub}),
                   cb.v) AS ip
          FROM u, cb WHERE u.vec_id < 10
        ),
        lut1 AS (
          SELECT query_id, mi, list(ip ORDER BY ci) AS lut
          FROM ql GROUP BY query_id, mi
        ),
        luts AS (
          SELECT query_id, list(lut ORDER BY mi) AS luts
          FROM lut1 GROUP BY query_id
        ),
        scored AS (
          SELECT l.query_id, c.vec_id AS neighbor_id,
                 ROUND(list_sum(list_transform(range(0, {len(cbs)}),
                   mi -> l.luts[mi+1][c.codes[mi+1]+1])), 6) AS score
          FROM codes c, luts l
          WHERE c.vec_id != l.query_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
          ) AS rank FROM scored
        ) WHERE rank <= 5
    """


_pq_oracle_sql = _pq_oracle()
if _pq_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["pq_ann_topk"] = _pq_oracle_sql


def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed index (n_centroids=16, 6-cell probe; m=8 x 16
    codes; queries = vec_id < 10): IVF bounds the candidates, PQ bounds
    the bytes per candidate. The corpus plans below the 2 MiB engine
    gate, so cell ranking and code assignment run as sequential SQL
    arithmetic; both deterministic trainings replay Spark-free in the
    oracle and the composed index is hash-exact."""
    from polars_nexpresso_spark.functions.similarity import ivfpq_ann_topk

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_ann_topk(
        emb,
        queries,
        k=5,
        n_centroids=16,
        n_probe=6,
        m=8,
        n_codes=16,
    )


PIPELINE_QUERIES["ivfpq_ann_topk"] = q_ivfpq_ann_topk


def _ivfpq_oracle():
    """DuckDB replica of ``q_ivfpq_ann_topk``: the IVF oracle's cell
    CTEs (centroids as VALUES, nearest-cell assignment, 6-cell probe)
    composed with the PQ oracle's code/LUT/ADC CTEs, joined on the cell
    id. None (rows-only) if the testdata is unreadable at import."""
    body = _ivfpq_with_body()
    if body is None:
        return None
    return (
        body
        + """
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
          ) AS rank FROM scored
        ) WHERE rank <= 5
    """
    )


@functools.cache
def _ivfpq_with_body():
    """Shared WITH-clause body for the residual IVF+PQ oracles, ending
    at the ADC-``scored`` CTE, built once per process; None if the
    testdata is unreadable at import. Replays the full residual cascade
    Spark-free: raw-space cell assignment against the shared
    ``_oracle_centroids()``, unit-space residual vs the normalized
    centroid, residual-trained codebooks (``pq_codebooks_local(
    residual_cents=...)``), ADC = exact ``<q, ĉ_cell>`` + LUT sum."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    try:
        from polars_nexpresso_spark.functions.similarity import (
            _chat,
            pq_codebooks_local,
        )

        cbs = pq_codebooks_local(
            f"{_ORACLE_SF_DIR}/embeddings.parquet",
            m=8,
            n_codes=16,
            residual_cents=cents,
        )
        chat = _chat(cents)
    except Exception:  # noqa: BLE001 — import must survive missing testdata
        return None
    cent_values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    chat_values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(chat)
    )
    sub = len(cbs[0][0])
    dim = sub * len(cbs)
    cb_values = ",\n             ".join(
        f"({mi}, {ci}, [{', '.join(repr(x) for x in cw)}]::DOUBLE[])"
        for mi, cb in enumerate(cbs)
        for ci, cw in enumerate(cb)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {cent_values}
        ),
        chat(i, v) AS (
          VALUES {chat_values}
        ),
        cb(mi, ci, v) AS (
          VALUES {cb_values}
        ),
        rankedc AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC, c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        corpus_cell AS (SELECT vec_id, i AS cell FROM rankedc WHERE rn = 1),
        query_cell AS (
          SELECT vec_id, i AS cell FROM rankedc WHERE rn <= 6 AND vec_id < 10
        ),
        n AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nn
          FROM embeddings
        ),
        u AS (
          SELECT vec_id,
                 list_transform(e, x -> x /
                   (CASE WHEN nn = 0 THEN 1.0 ELSE nn END)) AS unit
          FROM n
        ),
        res AS (
          SELECT u.vec_id,
                 list_transform(range(0, {dim}),
                   j -> u.unit[j+1] - ch.v[j+1]) AS r
          FROM u
          JOIN corpus_cell cc ON cc.vec_id = u.vec_id
          JOIN chat ch ON ch.i = cc.cell
        ),
        d AS (
          SELECT res.vec_id, cb.mi, cb.ci,
                 list_distance(
                   list_slice(res.r, cb.mi*{sub}+1, cb.mi*{sub}+{sub}),
                   cb.v) AS dist
          FROM res, cb
        ),
        a AS (
          SELECT vec_id, mi, ci,
                 ROW_NUMBER() OVER (
                   PARTITION BY vec_id, mi ORDER BY dist ASC, ci ASC
                 ) AS rn
          FROM d
        ),
        codes AS (
          SELECT vec_id, list(ci ORDER BY mi) AS codes
          FROM a WHERE rn = 1 GROUP BY vec_id
        ),
        ql AS (
          SELECT u.vec_id AS query_id, cb.mi, cb.ci,
                 list_inner_product(
                   list_slice(u.unit, cb.mi*{sub}+1, cb.mi*{sub}+{sub}),
                   cb.v) AS ip
          FROM u, cb WHERE u.vec_id < 10
        ),
        lut1 AS (
          SELECT query_id, mi, list(ip ORDER BY ci) AS lut
          FROM ql GROUP BY query_id, mi
        ),
        luts AS (
          SELECT query_id, list(lut ORDER BY mi) AS luts
          FROM lut1 GROUP BY query_id
        ),
        qcdot AS (
          SELECT u.vec_id AS query_id, ch.i AS cell,
                 list_inner_product(u.unit, ch.v) AS cdot
          FROM u, chat ch WHERE u.vec_id < 10
        ),
        scored AS (
          SELECT l.query_id, c.vec_id AS neighbor_id,
                 ROUND(qd.cdot + list_sum(list_transform(range(0, {len(cbs)}),
                   mi -> l.luts[mi+1][c.codes[mi+1]+1])), 6) AS score
          FROM corpus_cell cc
          JOIN query_cell qc ON cc.cell = qc.cell
          JOIN codes c ON c.vec_id = cc.vec_id
          JOIN luts l ON l.query_id = qc.vec_id
          JOIN qcdot qd ON qd.query_id = qc.vec_id AND qd.cell = cc.cell
          WHERE cc.vec_id != qc.vec_id
        )
    """


_ivfpq_oracle_sql = _ivfpq_oracle()
if _ivfpq_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["ivfpq_ann_topk"] = _ivfpq_oracle_sql


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank: the residual IVF+PQ index over-fetches
    60 candidates per query (compact shuffles — the candidate join
    still moves codes, not vectors), then exact cosine re-ranks them
    to the final top-5 — the two-stage pattern that makes a quantized
    index usable when exact ids matter. The 60-candidate over-fetch is
    the recall lever the r10 dial study measured (30 → 0.52 recall@5
    clustered, 60 + residual → ~0.9): PQ mis-ranks WITHIN a shortlist
    far more than it misses the shortlist. Both stages are
    deterministic, so the whole cascade replays in SQL hash-exact."""
    from polars_nexpresso_spark.functions.similarity import (
        exact_rerank,
        ivfpq_ann_topk,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    cand = ivfpq_ann_topk(
        emb,
        queries,
        k=60,
        n_centroids=16,
        n_probe=6,
        m=8,
        n_codes=16,
    )
    return exact_rerank(cand, emb, queries, k=5)


PIPELINE_QUERIES["ivfpq_rerank"] = q_ivfpq_rerank


def _ivfpq_rerank_oracle():
    """DuckDB replica of ``q_ivfpq_rerank``: the shared residual IVF+PQ
    CTEs produce the 60-candidate over-fetch, then exact cosine
    re-ranks — the same final SELECT shape as the IVF oracle."""
    body = _ivfpq_with_body()
    if body is None:
        return None
    return (
        body
        + """
        , cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
            ) AS rank FROM scored
          ) WHERE rank <= 60
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT s.query_id, s.neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6)
                            DESC, s.neighbor_id ASC
                 ) AS rank
          FROM cand s
          JOIN embeddings c ON c.vec_id = s.neighbor_id
          JOIN embeddings q ON q.vec_id = s.query_id
        ) WHERE rank <= 5
    """
    )


_ivfpq_rerank_oracle_sql = _ivfpq_rerank_oracle()
if _ivfpq_rerank_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["ivfpq_rerank"] = _ivfpq_rerank_oracle_sql


def q_hard_negatives_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining on the compressed path: IVF+PQ over-fetches
    k+max_positives candidates by ADC score (the candidate join carries
    codes, not vectors), same-label positives filter out map-side, and
    exact cosine re-ranks the survivors — true-cosine output like the
    other engines, approximate only in candidate membership."""
    from polars_nexpresso_spark.functions.similarity import (
        mine_hard_negatives,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    positives = (
        queries.select(F.col("vec_id").alias("query_id"), "label")
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "label"),
            on="label",
        )
        .select("query_id", "doc_id")
    )
    return mine_hard_negatives(
        emb,
        queries,
        positives,
        k=5,
        engine="ivfpq",
        n_centroids=16,
        n_probe=6,
        max_positives=64,
        m=8,
        n_codes=16,
    )


PIPELINE_QUERIES["hard_negatives_ivfpq"] = q_hard_negatives_ivfpq


def _hard_negatives_ivfpq_oracle():
    """DuckDB replica of ``q_hard_negatives_ivfpq``: the shared IVF+PQ
    CTEs over-fetch 69 candidates by ADC score, the same-label positive
    pairs anti-filter them, and exact cosine re-ranks the survivors."""
    body = _ivfpq_with_body()
    if body is None:
        return None
    return (
        body
        + """
        , cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
            ) AS rank FROM scored
          ) WHERE rank <= 69
        ),
        pos AS (
          SELECT q.vec_id AS query_id, d.vec_id AS doc_id
          FROM embeddings q JOIN embeddings d ON d.label = q.label
          WHERE q.vec_id < 10
        ),
        neg AS (
          SELECT c.query_id, c.neighbor_id
          FROM cand c LEFT JOIN pos p
            ON p.query_id = c.query_id AND p.doc_id = c.neighbor_id
          WHERE p.doc_id IS NULL
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT s.query_id, s.neighbor_id,
                 ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6)
                            DESC, s.neighbor_id ASC
                 ) AS rank
          FROM neg s
          JOIN embeddings c ON c.vec_id = s.neighbor_id
          JOIN embeddings q ON q.vec_id = s.query_id
        ) WHERE rank <= 5
    """
    )


_hard_negatives_ivfpq_oracle_sql = _hard_negatives_ivfpq_oracle()
if _hard_negatives_ivfpq_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["hard_negatives_ivfpq"] = (
        _hard_negatives_ivfpq_oracle_sql
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ANN eval: per-query recall@5 of the IVF+PQ rerank
    cascade against exact cosine top-5, as a DataFrame op (no
    driver-side collect — at 100 TB the eval set is a table). The two
    stages it compares are themselves oracle-checked queries, so the
    recall numbers are value-hash-verified end to end."""
    from polars_nexpresso_spark.functions.similarity import (
        ann_recall_table,
        cosine_topk,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    approx = q_ivfpq_rerank(spark, sf_dir)
    return ann_recall_table(approx, exact)


PIPELINE_QUERIES["ann_recall"] = q_ann_recall


def _ann_recall_oracle():
    """DuckDB replica of ``q_ann_recall``: the exact-cosine oracle and
    the rerank-cascade oracle nest as subqueries, LEFT-joined on the
    (query, neighbor) pair and aggregated per query."""
    rerank_sql = _ivfpq_rerank_oracle()
    if rerank_sql is None:
        return None
    exact_sql = PIPELINE_ORACLE_SQL["cosine_topk"]
    return f"""
        SELECT e.query_id,
               COUNT(*)::BIGINT AS n_exact,
               COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                 THEN 1 ELSE 0 END), 0)::BIGINT AS n_hit,
               ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
                   AS recall
        FROM ({exact_sql}) e
        LEFT JOIN (
          SELECT DISTINCT query_id, neighbor_id FROM ({rerank_sql})
        ) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """


_ann_recall_oracle_sql = _ann_recall_oracle()
if _ann_recall_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["ann_recall"] = _ann_recall_oracle_sql


# --- round-8 operators: registered AFTER the driver's 50-slot window ---------
# (judge-verified via scripts/check_oracle.py this round; rotate into the
# window next round per the established protocol.)


def q_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index incremental dedup: build the reference corpus's
    dedup index ONCE (bucketed fingerprint + LSH band tables, every
    third doc as the already-ingested crawl), then anti-join the new
    batch against it — zero exchange on the index side, no reference
    re-shingling. Near-dups are decided by minhash-signature agreement
    (>= 0.8 of 32 components); on this corpus planted near-dups sit at
    j ~ 0.99 and everything else at j ~ 0, so the estimated decision
    equals the oracle's exact-Jaccard decision (the ``minhash_lsh``
    recall argument)."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    build_dedup_index(
        ref, "text", "doc_id", "pns_q_dedup_index", num_buckets=8
    )
    out = dedup_against_index(
        docs, "text", "doc_id", "pns_q_dedup_index", threshold=0.8
    )
    return out.select("doc_id", "source")


PIPELINE_QUERIES["dedup_index"] = q_dedup_index

PIPELINE_ORACLE_SQL["dedup_index"] = f"""
    WITH ref AS (
      SELECT DISTINCT {_NORM} AS norm
      FROM documents
      WHERE doc_id % 3 = 0 AND text IS NOT NULL
    ),
    shingled AS (
      SELECT doc_id, {_NORM} AS norm, {_SHINGLES} AS sh
      FROM (SELECT doc_id, text, {_TOKS} AS toks
            FROM documents WHERE text IS NOT NULL)
    ),
    near_hit AS (
      SELECT DISTINCT d.doc_id
      FROM shingled d
      JOIN shingled r ON r.doc_id % 3 = 0
      WHERE d.norm NOT IN (SELECT norm FROM ref)
        AND len(list_intersect(d.sh, r.sh))::DOUBLE
            / (len(d.sh) + len(r.sh) - len(list_intersect(d.sh, r.sh)))
            >= 0.8
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.text IS NULL
       OR ({_NORM.replace("lower(text)", "lower(d.text)")}
               NOT IN (SELECT norm FROM ref)
           AND d.doc_id NOT IN (SELECT doc_id FROM near_hit))
"""


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup over the same split as ref_dedup
    (every third doc = the already-ingested crawl): ONE distributed
    bit-word aggregation builds the filter, the probe is map-side and
    join-free. At the generous geometry used here (24 bits/item, k=10
    -> FP ~ 2e-5) the filter makes ZERO false positives on this corpus
    — decisions are deterministic for fixed data, so the exact
    ref_dedup oracle replays them; the FP trade only appears at
    tighter geometries (characterized in test_bloom.py)."""
    from polars_nexpresso_spark.functions.dedup import (
        build_bloom_filter,
        dedup_against_bloom,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bloom = build_bloom_filter(ref, "text", bits_per_item=24, num_hashes=10)
    out = dedup_against_bloom(docs, "text", bloom)
    return out.select("doc_id", "source")


PIPELINE_QUERIES["bloom_dedup"] = q_bloom_dedup
PIPELINE_ORACLE_SQL["bloom_dedup"] = PIPELINE_ORACLE_SQL["ref_dedup"]


def q_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 from the persisted inverted index: build once (postings
    bucketed+sorted by term with denormalized doc lengths, df table,
    corpus stats), then score the same fixed query as bm25_topk — the
    postings scan bucket-prunes to the query's terms and the corpus is
    never re-tokenized. Same formula, same oracle."""
    from polars_nexpresso_spark.functions.retrieval import (
        bm25_against_index,
        build_text_index,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    build_text_index(
        docs, "text", "doc_id", "pns_q_text_index", num_buckets=16
    )
    return bm25_against_index(
        spark, "pns_q_text_index", "hash join spill window", k=20
    )


PIPELINE_QUERIES["bm25_index"] = q_bm25_index
PIPELINE_ORACLE_SQL["bm25_index"] = PIPELINE_ORACLE_SQL["bm25_topk"]


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered decontamination on the same split as
    ``decontaminate``: eval shingles collapse to a bit array instead of
    an exact dictionary (~10x larger eval suites in the same executor
    memory). At the generous default geometry (40 bits/shingle, k=20,
    FP ~ 8e-9) the filter makes zero false drops on this corpus, so
    the exact batch oracle replays it verbatim; the FP trade at tight
    geometries is characterized in test_bloom.py."""
    from polars_nexpresso_spark.functions.dedup import decontaminate_bloom

    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    kept = decontaminate_bloom(train, eval_df, "text", n=13)
    return kept.select("doc_id")


PIPELINE_QUERIES["decontaminate_bloom"] = q_decontaminate_bloom
PIPELINE_ORACLE_SQL["decontaminate_bloom"] = PIPELINE_ORACLE_SQL[
    "decontaminate"
]


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: the same MinHash+LSH connected components as
    ``dedup_clusters``, but every copy SURVIVES with sampling weight
    ``1 / cluster_size`` — each near-dup cluster contributes the
    expected token mass of one copy (the SoftDeDup reweighting; the
    non-destructive alternative to ``dedup_best_keep`` when provenance
    requires keeping all rows). Weight arithmetic rounds to 9 decimals
    so the oracle replays it exactly."""
    from polars_nexpresso_spark.functions.dedup import duplication_weights

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    clusters = dedup_clusters(docs, pairs, "doc_id")
    return duplication_weights(clusters, "doc_id")


PIPELINE_QUERIES["soft_dedup_weights"] = q_soft_dedup_weights
# soft_dedup_weights: the dedup_clusters recursive CTE + a per-cluster
# COUNT window + the 1/size weight arithmetic (rounded to 9).
PIPELINE_ORACLE_SQL["soft_dedup_weights"] = f"""
    WITH RECURSIVE shingled AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    jp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
            6) >= 0.8
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp
    ),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
    ),
    c AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
           ROUND(1.0::DOUBLE
                 / COUNT(*) OVER (PARTITION BY cluster_id), 9)
               AS sample_weight
    FROM c
"""


def q_novelty_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of each document's distinct
    word 3-grams that occur in NO other document — the ranking signal
    for novelty-first sampling and the per-doc complement of
    ``dup_window_frac``. Text never leaves the scan; every exchange
    carries (id, 64-bit shingle hash) longs."""
    from polars_nexpresso_spark.functions.text import unique_ngram_fraction

    docs = spread(read_table(spark, sf_dir, "documents"))
    return unique_ngram_fraction(docs, "text", "doc_id", n=3)


PIPELINE_QUERIES["novelty_frac"] = q_novelty_frac
# novelty_frac: distinct 3-gram shingles per doc (the _SHINGLES
# convention), document frequency per shingle, df==1 grams counted for
# their single owner, LEFT joins keep zero-gram documents.
PIPELINE_ORACLE_SQL["novelty_frac"] = f"""
    WITH g AS (
      SELECT doc_id, unnest({_SHINGLES}) AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    f AS (SELECT sh, COUNT(*) AS df, MIN(doc_id) AS owner
          FROM g WHERE sh IS NOT NULL GROUP BY sh),
    u AS (SELECT owner AS doc_id, COUNT(*) AS n_unique
          FROM f WHERE df = 1 GROUP BY owner),
    p AS (SELECT doc_id, COUNT(*) AS n_grams FROM g
         WHERE sh IS NOT NULL GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
           COALESCE(u.n_unique, 0)::BIGINT AS n_unique,
           ROUND(COALESCE(u.n_unique, 0)::DOUBLE / p.n_grams, 9)
               AS novelty_frac
    FROM documents d
    LEFT JOIN p USING (doc_id)
    LEFT JOIN u USING (doc_id)
"""


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: top-20 adjacent token pairs by pointwise
    mutual information with a min-count floor — the distributed phrase-
    mining pass (tokenizer merge candidates, stop-phrase screens).
    Vocab-sized shuffles only; totals ride a broadcast 1-row aggregate;
    ln arithmetic rounds to 9 decimals for the oracle."""
    from polars_nexpresso_spark.functions.text import pmi_collocations

    docs = spread(read_table(spark, sf_dir, "documents"))
    return pmi_collocations(docs, "text", k=20, min_count=5)


PIPELINE_QUERIES["pmi_bigrams"] = q_pmi_bigrams
# pmi_bigrams: unigram + adjacent-bigram counts, identical ln-product
# arithmetic (pc·Nu·Nu / (Nb·ca·cb)), (pmi desc, w1, w2) tie-break.
PIPELINE_ORACLE_SQL["pmi_bigrams"] = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    uc AS (
      SELECT token, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS token FROM t)
      GROUP BY token
    ),
    bc AS (
      SELECT s['w1'] AS w1, s['w2'] AS w2, COUNT(*) AS pair_count
      FROM (
        SELECT unnest(list_transform(
            range(1, greatest(len(toks) - 1, 0) + 1),
            i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
        FROM t
      )
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    ),
    tot AS (
      SELECT (SELECT SUM(c) FROM uc) AS n_uni,
             (SELECT SUM(greatest(len(toks) - 1, 0)) FROM t) AS n_bi
    ),
    scored AS (
      SELECT bc.w1, bc.w2, bc.pair_count,
             ROUND(ln(
                 (bc.pair_count::DOUBLE * tot.n_uni::DOUBLE
                  * tot.n_uni::DOUBLE)
                 / (tot.n_bi::DOUBLE * a.c::DOUBLE * b.c::DOUBLE)
             ), 9) AS pmi
      FROM bc
      JOIN uc a ON a.token = bc.w1
      JOIN uc b ON b.token = bc.w2
      CROSS JOIN tot
    )
    SELECT w1, w2, pair_count, pmi,
           ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)::BIGINT
               AS rank
    FROM scored
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT 20
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality gate: distance-to-nearest-centroid
    z-scores over the whole embeddings table — flags corrupt /
    out-of-domain vectors before index builds and semantic dedup. Same
    deterministic k-means as ``ivf_ann_topk``, so the oracle embeds the
    exact centroids; assignment is map-side, the two distribution
    scalars ride one broadcast aggregate, vectors never shuffle."""
    from polars_nexpresso_spark.functions.similarity import (
        embedding_outliers,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    return embedding_outliers(emb, n_centroids=16, z_threshold=2.0)


PIPELINE_QUERIES["embedding_outliers"] = q_embedding_outliers


def _embedding_outliers_oracle() -> str | None:
    """Exact DuckDB replica of ``q_embedding_outliers``: the re-derived
    centroid VALUES of ``_ivf_ann_oracle``, nearest-cell election by
    (distance, index) row_number, euclidean distance rounded to 6, then
    the same mean/stddev_pop z-score arithmetic. Returns None (rows-only
    check) when the testdata is unreadable at import."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, c.i,
                 list_distance(e.embedding::DOUBLE[], c.v) AS d,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        a AS (
          SELECT vec_id, i AS cell, ROUND(d, 6) AS centroid_dist
          FROM ranked WHERE rn = 1
        ),
        s AS (
          SELECT AVG(centroid_dist) AS m, STDDEV_POP(centroid_dist) AS sd
          FROM a
        )
        SELECT vec_id, cell, centroid_dist,
               ROUND((centroid_dist - s.m)
                     / (CASE WHEN s.sd > 0 THEN s.sd END), 6) AS dist_z,
               ROUND((centroid_dist - s.m)
                     / (CASE WHEN s.sd > 0 THEN s.sd END), 6) > 2.0
                   AS is_outlier
        FROM a, s
    """


_outliers_oracle = _embedding_outliers_oracle()
if _outliers_oracle is not None:
    PIPELINE_ORACLE_SQL["embedding_outliers"] = _outliers_oracle


def q_dedup_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ladder eval: pair recall/precision of the cheap SimHash
    candidate finder (hamming <= 3 over 60-bit fingerprints) against
    exact n-gram Jaccard >= 0.8 ground truth — the measurement that
    justifies (or vetoes) running the cheap rung at 100 TB. Both pair
    sets replay exactly in SQL, so even this eval is hash-checkable."""
    from polars_nexpresso_spark.functions.dedup import (
        dedup_pair_recall,
        simhash_pairs,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    truth = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    cand = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    return dedup_pair_recall(truth, cand)


PIPELINE_QUERIES["dedup_pair_recall"] = q_dedup_pair_recall
# dedup_pair_recall: the exact-Jaccard and simhash oracles nest as
# subqueries; the metric arithmetic replays the full-outer-join counts.
PIPELINE_ORACLE_SQL["dedup_pair_recall"] = f"""
    WITH truth AS (
      SELECT id_a, id_b FROM ({_jaccard_pairs_oracle(0.8)})
    ),
    cand AS (
      SELECT id_a, id_b FROM ({PIPELINE_ORACLE_SQL["simhash_pairs"]})
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*)
              FROM truth t JOIN cand c
                ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hits
    )
    SELECT n_true::BIGINT AS n_true,
           n_candidates::BIGINT AS n_candidates,
           n_hits::BIGINT AS n_hits,
           ROUND(n_hits::DOUBLE
                 / (CASE WHEN n_true > 0 THEN n_true END), 9)
               AS pair_recall,
           ROUND(n_hits::DOUBLE
                 / (CASE WHEN n_candidates > 0 THEN n_candidates END), 9)
               AS pair_precision
    FROM m
"""


def q_soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The soft-dedup loop CLOSED: near-dup clusters → 1/cluster_size
    weights → Gumbel-top-k sample with probability ∝ weight, so
    duplicated content cannot over-sample no matter how many copies
    survive (score = ln(weight), temperature 1 — selection probability
    is the weight itself). Every stage is the verified machinery of
    ``soft_dedup_weights`` + ``gumbel_topk``; the composition is what a
    provenance-preserving pipeline actually runs."""
    from polars_nexpresso_spark.functions.dedup import duplication_weights
    from polars_nexpresso_spark.functions.sampling import gumbel_topk

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8
    )
    clusters = dedup_clusters(docs, pairs, "doc_id")
    weighted = duplication_weights(clusters, "doc_id").withColumn(
        "score", F.log(F.col("sample_weight"))
    )
    out = gumbel_topk(weighted, "score", "doc_id", k=100, temperature=1.0)
    return out.select(
        "doc_id", "cluster_id", "cluster_size", "sample_weight", "gumbel_key"
    )


PIPELINE_QUERIES["soft_dedup_sample"] = q_soft_dedup_sample
# soft_dedup_sample: the soft_dedup_weights CTE chain + the gumbel_topk
# md5-noise arithmetic (ln(weight)/1 - ln(-ln(u)), rounded to 6).
PIPELINE_ORACLE_SQL["soft_dedup_sample"] = f"""
    WITH RECURSIVE shingled AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    jp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
            6) >= 0.8
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp
    ),
    r(n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.n, e.b FROM r JOIN e ON e.a = r.m
    ),
    c AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM r GROUP BY n),
    w AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id)::BIGINT
                 AS cluster_size,
             ROUND(1.0::DOUBLE
                   / COUNT(*) OVER (PARTITION BY cluster_id), 9)
                 AS sample_weight
      FROM c
    ),
    keyed AS (
      SELECT doc_id, cluster_id, cluster_size, sample_weight,
             ROUND(ln(sample_weight) / 1.0
                   - ln(-ln((CAST('0x' || substr(
                         md5('42:' || doc_id::VARCHAR), 1, 15)
                       AS BIGINT) % 1000000 + 0.5) / 1000000.0)),
                   6)::DOUBLE AS gumbel_key
      FROM w
    )
    SELECT doc_id, cluster_id, cluster_size, sample_weight, gumbel_key
    FROM keyed
    ORDER BY gumbel_key DESC, doc_id ASC
    LIMIT 100
"""


def q_decontaminate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level overlap-fraction decontamination on the standard
    train/eval split (docs < 25 play the benchmark): every train doc
    scored by the share of its distinct 13-grams found in eval, kept
    flag at the 10% threshold — the tolerant PaLM/Llama-style rule whose
    max_frac→0 limit is ``decontaminate``'s any-hit rule."""
    from polars_nexpresso_spark.functions.dedup import (
        train_overlap_fractions,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    eval_df = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    fr = train_overlap_fractions(train, eval_df, "text", "doc_id", n=13)
    return fr.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        "overlap_frac",
        (
            F.col("overlap_frac").isNull() | (F.col("overlap_frac") < 0.1)
        ).alias("kept"),
    )


PIPELINE_QUERIES["decontaminate_fraction"] = q_decontaminate_fraction
# decontaminate_fraction: the decontaminate oracle's 13-gram shingle CTE,
# per-train-doc hit/total counts, identical fraction + threshold math.
PIPELINE_ORACLE_SQL["decontaminate_fraction"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(toks)-12, 1)+1),
          i -> array_to_string(list_slice(toks, i, i+12), ' ')))) AS s
      FROM t
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 25),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id >= 25),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
    hit AS (
      SELECT tr.doc_id, COUNT(*) AS n_hits
      FROM tr JOIN ev ON tr.s = ev.s
      GROUP BY tr.doc_id
    )
    SELECT d.doc_id,
           COALESCE(tot.n_shingles, 0)::BIGINT AS n_shingles,
           COALESCE(hit.n_hits, 0)::BIGINT AS n_hits,
           ROUND(COALESCE(hit.n_hits, 0)::DOUBLE / tot.n_shingles, 9)
               AS overlap_frac,
           (tot.n_shingles IS NULL
            OR ROUND(COALESCE(hit.n_hits, 0)::DOUBLE / tot.n_shingles, 9)
               < 0.1) AS kept
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN hit USING (doc_id)
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering eval over the embeddings table: per k-means
    cell, size + majority label + purity — the quality dial for every
    coarse-quantizer operator (IVF probes, SemDeDup buckets, the
    outlier gate). Same deterministic centroids as ``ivf_ann_topk``;
    vectors never shuffle, the exchanges carry (cell, label) counts."""
    from polars_nexpresso_spark.functions.similarity import cluster_purity

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    return cluster_purity(emb, n_centroids=16)


PIPELINE_QUERIES["cluster_purity"] = q_cluster_purity


def _cluster_purity_oracle() -> str | None:
    """DuckDB replica of ``q_cluster_purity``: re-derived centroid
    VALUES, nearest-cell election, (cell, label) counts, and the
    majority election by (count desc, label asc) row_number."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, e.label, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        a AS (SELECT vec_id, label, i AS cell FROM ranked WHERE rn = 1),
        cl AS (
          SELECT cell, label, COUNT(*) AS cnt FROM a GROUP BY cell, label
        ),
        m AS (
          SELECT cell, label, cnt,
                 ROW_NUMBER() OVER (
                   PARTITION BY cell ORDER BY cnt DESC, label ASC
                 ) AS rn
          FROM cl
        )
        SELECT cl.cell,
               SUM(cl.cnt)::BIGINT AS n,
               MAX(CASE WHEN m.rn = 1 THEN m.label END) AS majority_label,
               MAX(cl.cnt)::BIGINT AS n_majority,
               ROUND(MAX(cl.cnt)::DOUBLE / SUM(cl.cnt), 9) AS purity
        FROM cl JOIN m ON m.cell = cl.cell AND m.label = cl.label
                      AND m.cnt = cl.cnt
        GROUP BY cl.cell
    """


_purity_oracle = _cluster_purity_oracle()
if _purity_oracle is not None:
    PIPELINE_ORACLE_SQL["cluster_purity"] = _purity_oracle


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-overlap (containment) pairs at 0.8 over 3-gram
    shingles — the subset-duplication complement to ``ngram_jaccard``:
    a short doc quoted whole inside a long one scores containment 1.0
    where Jaccard stays near zero. Same exchanges as the Jaccard pass;
    only the final arithmetic differs."""
    from polars_nexpresso_spark.functions.dedup import containment_pairs

    docs = spread(read_table(spark, sf_dir, "documents"))
    return containment_pairs(docs, "text", "doc_id", n=3, threshold=0.8)


PIPELINE_QUERIES["containment_pairs"] = q_containment_pairs
# containment_pairs: the jaccard oracle's shingle CTE with min-size
# division and smaller-set (ties -> smaller id) orientation.
PIPELINE_ORACLE_SQL["containment_pairs"] = f"""
    WITH shingled AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT CASE WHEN len(a.sh) <= len(b.sh) THEN a.doc_id
                ELSE b.doc_id END AS inner_id,
           CASE WHEN len(a.sh) <= len(b.sh) THEN b.doc_id
                ELSE a.doc_id END AS outer_id,
           ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / least(len(a.sh), len(b.sh)), 6) AS containment
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                / least(len(a.sh), len(b.sh)), 6) >= 0.8
"""


def q_bm25_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-query routing: the documents table replayed as an
    incoming batch, scored map-side against two fixed queries under the
    persisted index's frozen collection model — the alerting/triage
    shape, identical under readStream (stateless projection). Every
    (doc, query) pair sharing a term routes with its full BM25 score."""
    from polars_nexpresso_spark.functions.retrieval import (
        bm25_route_stream,
        build_text_index,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    build_text_index(
        docs, "text", "doc_id", "pns_q_route_index", num_buckets=16
    )
    return bm25_route_stream(
        docs,
        "text",
        "doc_id",
        "pns_q_route_index",
        [("q_exec", "hash join spill"), ("q_stream", "window watermark")],
    )


PIPELINE_QUERIES["bm25_route"] = q_bm25_route
# bm25_route: per-query full BM25 score tables (same arithmetic as the
# bm25_topk oracle, no top-k cut — routing keeps every score > 0),
# UNION ALL over the two standing queries.
_ROUTE_Q = (
    ("q_exec", ("hash", "join", "spill")),
    ("q_stream", ("watermark", "window")),
)


def _route_oracle_block(qid: str, terms: tuple[str, ...]) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
    SELECT h.doc_id AS doc_id, '{qid}' AS query_id,
           ROUND(SUM(
               ln(1 + (s.N - f.df + 0.5) / (f.df + 0.5))
               * (h.tf * 2.2)
               / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
           ), 6) AS score
    FROM (
      SELECT doc_id, t, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM d)
      WHERE t IN ({tlist})
      GROUP BY doc_id, t
    ) h
    JOIN dl l USING (doc_id)
    JOIN (
      SELECT t, count(*) AS df
      FROM (SELECT DISTINCT doc_id, t
            FROM (SELECT doc_id, unnest(toks) AS t FROM d)
            WHERE t IN ({tlist}))
      GROUP BY t
    ) f USING (t), stats s
    GROUP BY h.doc_id
    HAVING ROUND(SUM(
               ln(1 + (s.N - f.df + 0.5) / (f.df + 0.5))
               * (h.tf * 2.2)
               / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
           ), 6) > 0
    """


PIPELINE_ORACLE_SQL["bm25_route"] = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM dl)
    {_route_oracle_block(*_ROUTE_Q[0])}
    UNION ALL
    {_route_oracle_block(*_ROUTE_Q[1])}
"""


def q_containment_keepset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment pass's dedup DECISION: drop every document that
    is ≥0.8-contained in some other document (the inner side of any
    containment pair — subset/excerpt copies), keep the rest. One
    id-keyed anti join over the pair table; the complement of
    ``containment_pairs``' detection."""
    from polars_nexpresso_spark.functions.dedup import containment_pairs

    docs = spread(read_table(spark, sf_dir, "documents"))
    pairs = containment_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    inner = pairs.select(F.col("inner_id").alias("doc_id")).distinct()
    return docs.join(inner, on="doc_id", how="left_anti").select(
        "doc_id", "source", "n_chars"
    )


PIPELINE_QUERIES["containment_keepset"] = q_containment_keepset
# containment_keepset: the containment oracle's pair select as a NOT IN.
PIPELINE_ORACLE_SQL["containment_keepset"] = f"""
    WITH shingled AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    inner_ids AS (
      SELECT DISTINCT CASE WHEN len(a.sh) <= len(b.sh) THEN a.doc_id
                  ELSE b.doc_id END AS doc_id
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                  / least(len(a.sh), len(b.sh)), 6) >= 0.8
    )
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM inner_ids)
"""


def q_dedup_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-safe persisted-index dedup: the SAME index and decisions
    as ``dedup_index``, probed by the STATELESS map-side path
    (capped broadcast fingerprint set + CSR-packed LSH band dictionary,
    pure-projection per-row minhash signature — no joins, no shuffle,
    no state) that an ingest readStream would run. Registered on a
    batch frame — the plan is identical under readStream
    (batch == stream parity pinned in test_pipeline_functions.py);
    the dedup_index oracle replays the decisions exactly because
    per-row verdicts against a fixed index are independent of the
    probe's execution mode."""
    from polars_nexpresso_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index_stream,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    build_dedup_index(
        ref, "text", "doc_id", "pns_q_didx_stream", num_buckets=8
    )
    out = dedup_against_index_stream(
        docs, "text", "pns_q_didx_stream", threshold=0.8
    )
    return out.select("doc_id", "source")


PIPELINE_QUERIES["dedup_index_stream"] = q_dedup_index_stream
# dedup_index_stream: identical decisions to dedup_index (same index,
# same threshold), so the oracle is the dedup_index oracle verbatim.
PIPELINE_ORACLE_SQL["dedup_index_stream"] = PIPELINE_ORACLE_SQL[
    "dedup_index"
]


# --- round-9 operators: registered AFTER the driver's 50-slot window ---------
# (verified via scripts/check_oracle.py at sf0.001 AND sf0.01 this round;
# rotate into the window next round per the established protocol.)


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label propagation: every fifth embedding plays
    the unlabeled ingest batch, the rest the labeled seed set; each
    query takes the label winning its 5 nearest labeled neighbors by
    cosine (ties: votes desc, label asc — a total order the oracle
    replays). Inherits cosine_topk's scale shape: the labeled corpus
    never shuffles."""
    from polars_nexpresso_spark.functions.similarity import knn_label

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    labeled = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    return knn_label(labeled, queries, k=5)


PIPELINE_QUERIES["knn_label"] = q_knn_label
# knn_label: the cosine_topk oracle's ranked cross join restricted to the
# labeled/query split, then vote counting with the same (votes desc,
# label asc) election.
PIPELINE_ORACLE_SQL["knn_label"] = """
    WITH nn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                     c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                          DESC, c.vec_id ASC
               ) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id % 5 != 0) c
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 5 = 0) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 5
    ),
    votes AS (
      SELECT n.query_id, l.label, COUNT(*) AS nv
      FROM nn n JOIN embeddings l ON l.vec_id = n.neighbor_id
      GROUP BY 1, 2
    ),
    tot AS (SELECT query_id, SUM(nv) AS t FROM votes GROUP BY 1),
    win AS (
      SELECT query_id, label, nv,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY nv DESC, label ASC
             ) AS rn
      FROM votes
    )
    SELECT w.query_id AS vec_id, w.label AS label,
           w.nv::BIGINT AS n_votes,
           ROUND(w.nv::DOUBLE / t.t, 9) AS vote_frac
    FROM win w JOIN tot t USING (query_id) WHERE w.rn = 1
"""


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-preserving subsample: cap every k-means cell of the
    embedding space at 40 vectors, survivors elected by the md5 id-hash
    total order — dense regions shed mass first, rare content survives.
    Same deterministic centroids as ivf_ann_topk, so the oracle embeds
    them as VALUES; assignment map-side, one cell-keyed window."""
    from polars_nexpresso_spark.functions.similarity import (
        diversity_sample,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    out = diversity_sample(emb, n_centroids=16, per_cell=40)
    return out.select("vec_id", "label", "cell")


PIPELINE_QUERIES["diversity_sample"] = q_diversity_sample


def _diversity_sample_oracle() -> str | None:
    """Exact replica: the embedding_outliers oracle's centroid VALUES +
    nearest-cell election, then cap_per_source's md5 row_number capped
    at 40 per cell. Returns None (rows-only) without readable testdata."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, e.label, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        a AS (SELECT vec_id, label, i AS cell FROM ranked WHERE rn = 1),
        capped AS (
          SELECT vec_id, label, cell,
                 ROW_NUMBER() OVER (
                   PARTITION BY cell
                   ORDER BY (CAST(concat('0x', substr(
                       md5('42:' || CAST(vec_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 1000000) ASC, vec_id ASC
                 ) AS rk
          FROM a
        )
        SELECT vec_id, label, cell FROM capped WHERE rk <= 40
    """


_div_oracle = _diversity_sample_oracle()
if _div_oracle is not None:
    PIPELINE_ORACLE_SQL["diversity_sample"] = _div_oracle


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: per-source fraction of token
    occurrences outside the corpus top-40 unigram vocabulary — the
    pre-tokenizer-training check that a planned vocabulary covers every
    source. Exchanges carry (source, token) count rows, never tokens."""
    from polars_nexpresso_spark.functions.text import oov_rate

    docs = spread(read_table(spark, sf_dir, "documents"))
    return oov_rate(docs, "text", "source", vocab_size=40)


PIPELINE_QUERIES["oov_rate"] = q_oov_rate
# oov_rate: token unnest with the Spark tokenizer's empty-text rule
# (tokens('') = [], while DuckDB string_split('') = ['']), the
# vocabulary as a (freq desc, token asc) row_number prefix, per-source
# occurrence sums.
PIPELINE_ORACLE_SQL["oov_rate"] = f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tok2 AS (SELECT source, tok FROM tok WHERE length(tok) > 0),
    counts AS (
      SELECT source, tok, COUNT(*) AS n FROM tok2 GROUP BY 1, 2
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (
                 ORDER BY SUM(n) DESC, tok ASC) AS r
        FROM counts GROUP BY tok
      ) WHERE r <= 40
    ),
    agg AS (
      SELECT source, SUM(n) AS n_tokens,
             SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                      THEN n ELSE 0 END) AS n_oov
      FROM counts GROUP BY source
    )
    SELECT source, n_tokens::BIGINT AS n_tokens, n_oov::BIGINT AS n_oov,
           ROUND(n_oov::DOUBLE
                 / (CASE WHEN n_tokens > 0 THEN n_tokens END), 9)
               AS oov_rate
    FROM agg
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document type-token and hapax ratios — the cheap lexical
    complements to the repetition gate (templates score low TTR,
    keyword stuffing scores anomalously high hapax). Pure per-row array
    arithmetic, no explode, no shuffle, stream-safe."""
    from polars_nexpresso_spark.functions.text import lexical_diversity

    docs = spread(read_table(spark, sf_dir, "documents"))
    return lexical_diversity(docs, "text", "doc_id")


PIPELINE_QUERIES["lexical_diversity"] = q_lexical_diversity
# lexical_diversity: list arithmetic with the Spark tokenizer's
# empty/NULL rules (NULL text and '' both yield zero tokens and NULL
# ratios); hapax = distinct tokens with exactly one occurrence.
PIPELINE_ORACLE_SQL["lexical_diversity"] = f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  WHEN length({_NORM}) = 0 THEN []::VARCHAR[]
                  ELSE {_TOKS} END AS toks
      FROM documents
    )
    SELECT doc_id,
           COALESCE(len(toks), 0)::BIGINT AS n_tokens,
           COALESCE(len(list_distinct(toks)), 0)::BIGINT AS n_types,
           ROUND(len(list_distinct(toks))::DOUBLE
                 / (CASE WHEN len(toks) > 0 THEN len(toks) END), 9)
               AS ttr,
           ROUND(len(list_filter(list_distinct(toks),
                     u -> len(list_filter(toks, x -> x = u)) = 1))::DOUBLE
                 / (CASE WHEN len(toks) > 0 THEN len(toks) END), 9)
               AS hapax_ratio
    FROM t
"""


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum sharding: stage by global n_chars terciles
    (short-to-long), 4 loader shards per stage by id hash, and a
    deterministic in-shard position from an independent hash — the
    materializable plan a curriculum training loop replays identically
    every run. One percentile aggregation + one (stage, shard) window."""
    from polars_nexpresso_spark.functions.sampling import (
        curriculum_shards,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    out = curriculum_shards(
        docs, "n_chars", "doc_id", n_stages=3, n_shards=4
    )
    return out.select("doc_id", "stage", "shard", "pos")


PIPELINE_QUERIES["curriculum_shards"] = q_curriculum_shards
# curriculum_shards: exact interpolated terciles (quantile_cont ==
# F.percentile) rounded to 6 as score_buckets does, the md5 family for
# shard (seed 42) and in-shard order (seed 43), row_number per
# (stage, shard).
PIPELINE_ORACLE_SQL["curriculum_shards"] = """
    WITH thr AS (
      SELECT ROUND(quantile_cont(n_chars::DOUBLE, 1.0/3), 6) AS t0,
             ROUND(quantile_cont(n_chars::DOUBLE, 2.0/3), 6) AS t1
      FROM documents WHERE n_chars IS NOT NULL
    ),
    b AS (
      SELECT doc_id,
             CASE WHEN n_chars IS NULL THEN NULL
                  WHEN n_chars::DOUBLE <= t.t0 THEN 'stage0'
                  WHEN n_chars::DOUBLE <= t.t1 THEN 'stage1'
                  ELSE 'stage2' END AS stage,
             (CAST(concat('0x', substr(
                  md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000) % 4 AS shard,
             CAST(concat('0x', substr(
                  md5('43:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000 AS oh
      FROM documents, thr t
    )
    SELECT doc_id, stage, shard::INTEGER AS shard,
           (ROW_NUMBER() OVER (
              PARTITION BY stage, shard ORDER BY oh ASC, doc_id ASC
            ))::BIGINT AS pos
    FROM b
"""


def q_oov_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-safe per-document OOV annotation against the frozen
    corpus top-40 vocabulary — the per-row half of oov_rate an ingest
    gate runs on a readStream (no join, no shuffle, no state;
    batch == stream pinned in tests). Registered on a batch frame with
    the corpus itself as the vocabulary reference, so the oracle is the
    oov_rate vocabulary CTE applied per document."""
    from polars_nexpresso_spark.functions.text import oov_annotate_stream

    docs = spread(read_table(spark, sf_dir, "documents"))
    out = oov_annotate_stream(docs, "text", docs, vocab_size=40)
    return out.select("doc_id", "n_tokens", "n_oov", "oov_rate")


PIPELINE_QUERIES["oov_annotate"] = q_oov_annotate
# oov_annotate: the oov_rate vocabulary prefix, then per-document token
# membership counts with the Spark tokenizer's NULL/empty rules.
PIPELINE_ORACLE_SQL["oov_annotate"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tok2 AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (
                 ORDER BY COUNT(*) DESC, tok ASC) AS r
        FROM tok2 GROUP BY tok
      ) WHERE r <= 40
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                      THEN 1 ELSE 0 END) AS n_oov
      FROM tok2 GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
           COALESCE(p.n_oov, 0)::BIGINT AS n_oov,
           ROUND(p.n_oov::DOUBLE
                 / (CASE WHEN p.n_tokens > 0 THEN p.n_tokens END), 9)
               AS oov_rate
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the even- and odd-id halves of
    the embeddings table — the between-ingests distribution check. Both
    sides reduce through label_centroids' single hash aggregation; the
    comparison runs over n_labels x dim centroid ROWS, never vectors."""
    from polars_nexpresso_spark.functions.similarity import (
        embedding_drift,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        dim=_embedding_dim(sf_dir),
    )


PIPELINE_QUERIES["embedding_drift"] = q_embedding_drift
# embedding_drift: two label_centroids oracles (round-6 centroids) joined
# per (label, dim), the same dot/norm/shift sums rounded at the end.
PIPELINE_ORACLE_SQL["embedding_drift"] = f"""
    WITH ca AS (
      SELECT label, i::BIGINT AS dim,
             ROUND(SUM(embedding[i + 1]::DOUBLE) / COUNT(*), 6) AS c
      FROM embeddings, range(0, {_ORACLE_DIM}) r(i)
      WHERE vec_id % 2 = 0 GROUP BY label, i
    ),
    cb AS (
      SELECT label, i::BIGINT AS dim,
             ROUND(SUM(embedding[i + 1]::DOUBLE) / COUNT(*), 6) AS c
      FROM embeddings, range(0, {_ORACLE_DIM}) r(i)
      WHERE vec_id % 2 = 1 GROUP BY label, i
    ),
    stats AS (
      SELECT ca.label,
             SUM(ca.c * cb.c) AS dot,
             SUM(ca.c * ca.c) AS na2,
             SUM(cb.c * cb.c) AS nb2,
             SUM((ca.c - cb.c) * (ca.c - cb.c)) AS d2
      FROM ca JOIN cb ON ca.label = cb.label AND ca.dim = cb.dim
      GROUP BY ca.label
    ),
    na AS (SELECT label, COUNT(*) AS n_a FROM embeddings
           WHERE vec_id % 2 = 0 GROUP BY label),
    nb AS (SELECT label, COUNT(*) AS n_b FROM embeddings
           WHERE vec_id % 2 = 1 GROUP BY label)
    SELECT s.label, na.n_a, nb.n_b,
           ROUND(s.dot / (CASE WHEN sqrt(s.na2) * sqrt(s.nb2) > 0
                               THEN sqrt(s.na2) * sqrt(s.nb2) END), 6)
               AS centroid_cosine,
           ROUND(sqrt(s.d2), 6) AS centroid_shift
    FROM stats s JOIN na USING (label) JOIN nb USING (label)
"""


def q_knn_label_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_label on the IVF scale path: the same labeled/query split as
    knn_label, neighbors from deterministic k-means cells trained on
    the LABELED slice (6-of-16 probe) — the engine for query sets past
    the exact path's broadcast budget. The quantizer is deterministic,
    so even the approximate vote replays exactly in SQL."""
    from polars_nexpresso_spark.functions.similarity import knn_label

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    labeled = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    return knn_label(
        labeled, queries, k=5, engine="ivf", n_centroids=16, n_probe=6
    )


PIPELINE_QUERIES["knn_label_ann"] = q_knn_label_ann


def _knn_label_ann_oracle() -> str | None:
    """The ivf_ann_topk oracle skeleton with centroids trained on the
    LABELED slice (id_filter replica), candidates restricted to the
    split, then the knn_label vote/election. Rows-only without
    readable testdata."""
    try:
        from polars_nexpresso_spark.functions.similarity import (
            kmeans_centroids_local,
        )

        cents = kmeans_centroids_local(
            f"{_ORACLE_SF_DIR}/embeddings.parquet",
            n_centroids=16,
            id_filter=lambda i: i % 5 != 0,
        )
    except Exception:  # noqa: BLE001 — import must survive missing testdata
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(i, v) AS (
          VALUES {values}
        ),
        ranked AS (
          SELECT e.vec_id, c.i,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC,
                            c.i ASC
                 ) AS rn
          FROM embeddings e, cents c
        ),
        corpus_cell AS (
          SELECT vec_id, i AS cell FROM ranked
          WHERE rn = 1 AND vec_id % 5 != 0
        ),
        query_cell AS (
          SELECT vec_id, i AS cell FROM ranked
          WHERE rn <= 6 AND vec_id % 5 = 0
        ),
        nn AS (
          SELECT query_id, neighbor_id FROM (
            SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY qb.vec_id
                     ORDER BY ROUND(list_cosine_similarity(
                         c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                              DESC, cb.vec_id ASC
                   ) AS rank
            FROM corpus_cell cb
            JOIN query_cell qb ON cb.cell = qb.cell
            JOIN embeddings c ON c.vec_id = cb.vec_id
            JOIN embeddings q ON q.vec_id = qb.vec_id
            WHERE cb.vec_id != qb.vec_id
          ) WHERE rank <= 5
        ),
        votes AS (
          SELECT n.query_id, l.label, COUNT(*) AS nv
          FROM nn n JOIN embeddings l ON l.vec_id = n.neighbor_id
          GROUP BY 1, 2
        ),
        tot AS (SELECT query_id, SUM(nv) AS t FROM votes GROUP BY 1),
        win AS (
          SELECT query_id, label, nv,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY nv DESC, label ASC
                 ) AS rn
          FROM votes
        )
        SELECT w.query_id AS vec_id, w.label AS label,
               w.nv::BIGINT AS n_votes,
               ROUND(w.nv::DOUBLE / t.t, 9) AS vote_frac
        FROM win w JOIN tot t USING (query_id) WHERE w.rn = 1
    """


_knn_ann_oracle = _knn_label_ann_oracle()
if _knn_ann_oracle is not None:
    PIPELINE_ORACLE_SQL["knn_label_ann"] = _knn_ann_oracle


def q_mmr_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed many-query MMR over real shortlists: every tenth
    embedding plays a retrieval query, cosine_topk bounds each query's
    candidates to 20, then mmr_rerank_by_query diversifies every
    shortlist to 8 picks in ONE grouped-kernel job (lam=0.5). The
    greedy selection is sequential only WITHIN a query; the oracle
    replays it exactly with a recursive CTE over the same shortlists."""
    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk,
        mmr_rerank_by_query,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    shortlist = cosine_topk(emb, queries, k=20)
    candidates = shortlist.select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    ).join(emb.select("vec_id", "embedding"), on="vec_id")
    return mmr_rerank_by_query(
        candidates,
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=8,
        lam=0.5,
    )


PIPELINE_QUERIES["mmr_per_query"] = q_mmr_per_query
# mmr_per_query: the cosine_topk oracle bounds each query's shortlist,
# then a recursive CTE replays the greedy kernel rank by rank — the
# selected set rides along as list columns (ids for the remaining-filter,
# vectors for the diversity penalty), argmax per rank = ROW_NUMBER over
# (rounded score desc, id asc), exactly the kernel's tie-break.
PIPELINE_ORACLE_SQL["mmr_per_query"] = """
    WITH RECURSIVE shortlist AS (
      SELECT query_id, neighbor_id AS vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                     c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                          DESC, c.vec_id ASC
               ) AS rank
        FROM embeddings c
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 10 = 0) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 20
    ),
    scored AS (
      SELECT s.query_id, s.vec_id, e.embedding::DOUBLE[] AS vec,
             list_cosine_similarity(
               e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS rel
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    ),
    picks AS (
      SELECT query_id, vec_id, mmr_score, 1 AS rank,
             [vec_id] AS sel_ids, [vec] AS sel_vecs
      FROM (
        SELECT query_id, vec_id, vec,
               ROUND(0.5 * rel, 6) AS mmr_score,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY ROUND(0.5 * rel, 6) DESC, vec_id ASC
               ) AS rn
        FROM scored
      ) WHERE rn = 1
      UNION ALL
      SELECT query_id, vec_id, mmr_score, rank,
             list_append(sel_ids, vec_id), list_append(sel_vecs, vec)
      FROM (
        SELECT s.query_id, s.vec_id, s.vec, p.sel_ids, p.sel_vecs,
               p.rank + 1 AS rank,
               ROUND(0.5 * s.rel - 0.5 * list_max(list_transform(
                   p.sel_vecs,
                   sv -> list_cosine_similarity(s.vec, sv))), 6)
                 AS mmr_score,
               ROW_NUMBER() OVER (
                 PARTITION BY s.query_id
                 ORDER BY ROUND(0.5 * s.rel - 0.5 * list_max(
                     list_transform(p.sel_vecs,
                       sv -> list_cosine_similarity(s.vec, sv))), 6)
                          DESC, s.vec_id ASC
               ) AS rn
        FROM scored s JOIN picks p USING (query_id)
        WHERE NOT list_contains(p.sel_ids, s.vec_id) AND p.rank < 8
      ) WHERE rn = 1
    )
    SELECT query_id, vec_id, mmr_score, rank FROM picks
"""


def q_curriculum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curriculum materialization inside the correctness
    gate: the sf curriculum_shards plan is WRITTEN with
    write_curriculum (one hive dir per (stage, shard), rows stored in
    pos order) and read back from the files — the result must carry
    exactly the plan's (doc_id, stage, shard, pos) rows, proving the
    repartition + sortWithinPartitions + partitionBy write path loses
    and reorders nothing. (The file-ORDER half of the contract — read
    sequence == pos sequence with no sort — is pinned separately in
    test_sources.py; the oracle compare is order-insensitive by
    design.) The scratch dir is new per call and deleted at JVM exit."""
    from pathlib import Path as _P

    from polars_nexpresso_spark.functions.sampling import (
        curriculum_shards,
    )
    from polars_nexpresso_spark.sources.io import scratch_dir, write_curriculum

    docs = spread(read_table(spark, sf_dir, "documents"))
    plan = curriculum_shards(
        docs, "n_chars", "doc_id", n_stages=3, n_shards=4
    )
    # The returned frame lazily re-reads `out`, so the dir lives until
    # the JVM exits; a fresh dir per call keeps concurrent processes and
    # reruns from racing a reader against an overwriter.
    out = scratch_dir(spark, f"pns_curriculum_replay_{_P(sf_dir).name}")
    write_curriculum(plan, out)
    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.col("stage").cast("string").alias("stage"),
        F.col("shard").cast("int").alias("shard"),
        "pos",
    )


PIPELINE_QUERIES["curriculum_replay"] = q_curriculum_replay
# curriculum_replay: the files must replay the PLAN, so the oracle is
# curriculum_shards' own SQL — identical rows surviving the write/read.
PIPELINE_ORACLE_SQL["curriculum_replay"] = PIPELINE_ORACLE_SQL[
    "curriculum_shards"
]


def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percent-rank calibration of the n_chars quality proxy
    — makes 'keep the top X% of EVERY source' a single predicate where
    a raw global threshold would keep whole domains and drop others.
    One partitioned window: hash exchange on source + per-group sort,
    no global sort (plan-budgeted)."""
    from polars_nexpresso_spark.functions.text import quality_calibrate

    docs = spread(read_table(spark, sf_dir, "documents"))
    return quality_calibrate(docs, "n_chars", "source", "doc_id")


PIPELINE_QUERIES["quality_calibrate"] = q_quality_calibrate
# quality_calibrate: PERCENT_RANK is SQL-native; NULL scores calibrate
# to NULL outside the rank denominator (engine NULLS-ordering defaults
# differ, so the operator excludes them by contract).
PIPELINE_ORACLE_SQL["quality_calibrate"] = """
    SELECT doc_id, source, n_chars,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY source ORDER BY n_chars ASC), 9) AS calibrated
    FROM documents WHERE n_chars IS NOT NULL
    UNION ALL
    SELECT doc_id, source, n_chars, NULL AS calibrated
    FROM documents WHERE n_chars IS NULL
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate over documents — high = base64/
    binary spill, near-zero = padded boilerplate. Pure map-side run-
    length arithmetic on the sorted char array: zero shuffle, zero
    Python (plan-budgeted); the oracle recomputes the histogram the
    relational way (unnest + two aggregations), small-sf only."""
    from polars_nexpresso_spark.functions.text import char_entropy

    docs = spread(read_table(spark, sf_dir, "documents"))
    return char_entropy(docs, "text", "doc_id")


PIPELINE_QUERIES["char_entropy"] = q_char_entropy
PIPELINE_ORACLE_SQL["char_entropy"] = """
    WITH cnt AS (
      SELECT doc_id, c, COUNT(*)::DOUBLE AS k
      FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
      ) GROUP BY doc_id, c
    ),
    h AS (
      SELECT doc_id,
             -SUM((k / n) * ln(k / n)) AS ent
      FROM (SELECT doc_id, c, k,
                   SUM(k) OVER (PARTITION BY doc_id) AS n
            FROM cnt)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE length(d.text) END::BIGINT AS n_chars,
           ROUND(h.ent, 9) AS entropy
    FROM documents d LEFT JOIN h USING (doc_id)
"""


def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health gate over documents: U+FFFD (decoder damage) and
    stray control characters (binary spill / wrong charset) per doc —
    the ingest check run BEFORE language-ID/quality scoring. Pure
    map-side regexp_count projections, zero shuffle (plan-budgeted)."""
    from polars_nexpresso_spark.functions.text import encoding_quality

    docs = spread(read_table(spark, sf_dir, "documents"))
    return encoding_quality(docs, "text", "doc_id")


PIPELINE_QUERIES["encoding_quality"] = q_encoding_quality
PIPELINE_ORACLE_SQL["encoding_quality"] = """
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           CASE WHEN text IS NULL THEN NULL ELSE
             len(regexp_extract_all(text, '\\x{FFFD}'))
           END::BIGINT AS n_replacement,
           CASE WHEN text IS NULL THEN NULL ELSE
             len(regexp_extract_all(text,
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]'))
           END::BIGINT AS n_control,
           ROUND(len(regexp_extract_all(text, '\\x{FFFD}'))::DOUBLE
                 / (CASE WHEN length(text) > 0 THEN length(text) END), 9)
               AS replacement_ratio,
           ROUND(len(regexp_extract_all(text,
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]'))::DOUBLE
                 / (CASE WHEN length(text) > 0 THEN length(text) END), 9)
               AS control_ratio
    FROM documents
"""


def q_mmr_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metric that justifies the MMR stage: per query, mean
    pairwise cosine WITHIN the mmr_per_query top-8 vs within the plain
    relevance top-8 from the same k=20 shortlists — diversification
    should push the first number below the second at a bounded
    relevance cost. Both sides run through the distributed
    intra_list_similarity op (bounded k² pairs per query, query-keyed
    joins); nothing loops on the driver."""
    from polars_nexpresso_spark.functions.similarity import (
        cosine_topk,
        intra_list_similarity,
        mmr_rerank_by_query,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # r13 pinned this shortlist unconditionally (guide §2.4: three
    # downstream consumers, the exact cosine scan runs once instead of
    # once per consumer) but the r13 driver bench regressed 1.23×:
    # UNLIKE mmr_retrieval_eval's 10-query shortlist, queries here are
    # 10% of the corpus, so the eager pin job carries the whole
    # 0.1·corpus² scoring pass serially before the main job — locally
    # the three consumers recompute it cheaper IN PARALLEL. r14: pin
    # only at corpus scale, where the duplicated scans are the real
    # cost (interleaved A/B of the unpinned local shape: 0.99×, i.e.
    # parity in a quiet window instead of the driver's 1.23× hit).
    shortlist = _checkpoint_at_scale(cosine_topk(emb, queries, k=20), emb)
    candidates = shortlist.select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    ).join(emb.select("vec_id", "embedding"), on="vec_id")
    mmr = mmr_rerank_by_query(
        candidates,
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=8,
        lam=0.5,
    )
    topk8 = shortlist.filter(F.col("rank") <= 8).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    vecs = emb.select("vec_id", "embedding")
    ils_mmr = intra_list_similarity(mmr, vecs).select(
        "query_id",
        F.col("mean_pairwise_cosine").alias("mmr_mean_cos"),
    )
    ils_topk = intra_list_similarity(topk8, vecs).select(
        "query_id",
        F.col("mean_pairwise_cosine").alias("topk_mean_cos"),
    )
    return ils_mmr.join(ils_topk, on="query_id")


PIPELINE_QUERIES["mmr_diversity_eval"] = q_mmr_diversity_eval
# mmr_diversity_eval: the mmr_per_query recursive CTE supplies the MMR
# lists, the shortlist CTE supplies the relevance top-8; each side's
# mean pairwise cosine is a within-query self-join (id_a < id_b) over
# round-6 pair cosines, mean rounded to 9 — the operator's contract.
PIPELINE_ORACLE_SQL["mmr_diversity_eval"] = (
    "WITH mmr AS (" + PIPELINE_ORACLE_SQL["mmr_per_query"] + """),
    topk AS (
      SELECT query_id, neighbor_id AS vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                     c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                          DESC, c.vec_id ASC
               ) AS rank
        FROM embeddings c
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 10 = 0) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 8
    ),
    pm AS (
      SELECT a.query_id,
             ROUND(list_cosine_similarity(
               e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS c
      FROM mmr a JOIN mmr b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
      JOIN embeddings e1 ON e1.vec_id = a.vec_id
      JOIN embeddings e2 ON e2.vec_id = b.vec_id
    ),
    pt AS (
      SELECT a.query_id,
             ROUND(list_cosine_similarity(
               e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS c
      FROM topk a JOIN topk b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
      JOIN embeddings e1 ON e1.vec_id = a.vec_id
      JOIN embeddings e2 ON e2.vec_id = b.vec_id
    )
    SELECT m.query_id,
           ROUND(m.mc, 9) AS mmr_mean_cos,
           ROUND(t.tc, 9) AS topk_mean_cos
    FROM (SELECT query_id, AVG(c) AS mc FROM pm GROUP BY 1) m
    JOIN (SELECT query_id, AVG(c) AS tc FROM pt GROUP BY 1) t
      USING (query_id)
"""
)


def q_mmr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED retrieval path the standalone MMR queries only
    simulate (mmr_per_query synthesizes its shortlists from exact
    cosine): IVF over-fetches a 20-candidate shortlist per query
    (cells prune the corpus, no all-pairs scan), mmr_rerank_by_query
    diversifies it to the final 8, and intra_list_similarity scores
    BOTH the MMR list and the plain relevance top-8 of the same
    shortlists — per query, MMR's mean pairwise cosine should sit at
    or below the top-8's (the ≤-diversity claim, pinned on this
    composed path in test_pipeline_functions.py). All three stages
    are the production operators; nothing loops on the driver."""
    from polars_nexpresso_spark.functions.similarity import (
        intra_list_similarity,
        ivf_ann_topk,
        mmr_rerank_by_query,
    )

    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    # r13 (guide §2.4): the shortlist feeds THREE consumers below (the
    # MMR candidate join, the plain top-8, and through them both ILS
    # sides); unpinned, the whole IVF retrieval subtree executed once
    # per consumer. It is bounded at queries × 20 rows, so one
    # localCheckpoint runs IVF once and truncates its plan everywhere.
    shortlist = ivf_ann_topk(
        emb, queries, k=20, n_centroids=16, n_probe=6
    ).localCheckpoint(eager=True)
    candidates = shortlist.select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    ).join(emb.select("vec_id", "embedding"), on="vec_id")
    mmr = mmr_rerank_by_query(
        candidates,
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=8,
        lam=0.5,
    )
    top8 = shortlist.filter(F.col("rank") <= 8).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    vecs = emb.select("vec_id", "embedding")
    # n_pairs > 0 on BOTH sides: intra_list_similarity keeps <2-item
    # lists as NULL-mean rows, but the DuckDB oracle's AVG-over-pairs
    # CTEs have no row at all for such queries — a degenerate IVF
    # shortlist (probed cells holding <2 candidates) would otherwise
    # produce a row-set mismatch (r11 advice). Dropping pairless
    # queries is the shared contract.
    ils_mmr = (
        intra_list_similarity(mmr, vecs)
        .filter(F.col("n_pairs") > 0)
        .select(
            "query_id",
            F.col("mean_pairwise_cosine").alias("mmr_mean_cos"),
        )
    )
    ils_top8 = (
        intra_list_similarity(top8, vecs)
        .filter(F.col("n_pairs") > 0)
        .select(
            "query_id",
            F.col("mean_pairwise_cosine").alias("topk_mean_cos"),
        )
    )
    return ils_mmr.join(ils_top8, on="query_id")


PIPELINE_QUERIES["mmr_retrieval_eval"] = q_mmr_retrieval_eval


def _mmr_retrieval_eval_oracle() -> str | None:
    """DuckDB replica of ``q_mmr_retrieval_eval``: the IVF oracle's
    centroid VALUES + 6-cell probe produce the 20-candidate
    shortlists, the mmr_per_query recursive CTE replays the greedy
    kernel over them (k=8, lam=0.5), and each side's mean pairwise
    cosine is the intra-list self-join. None (rows-only) if the
    oracle-SF testdata is unreadable at import."""
    cents = _oracle_centroids()
    if cents is None:
        return None
    values = ",\n                 ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
    WITH RECURSIVE cents(i, v) AS (
      VALUES {values}
    ),
    rankedc AS (
      SELECT e.vec_id, c.i,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_distance(e.embedding::DOUBLE[], c.v) ASC, c.i ASC
             ) AS rn
      FROM embeddings e, cents c
    ),
    corpus_cell AS (SELECT vec_id, i AS cell FROM rankedc WHERE rn = 1),
    query_cell AS (
      SELECT vec_id, i AS cell FROM rankedc WHERE rn <= 6 AND vec_id < 10
    ),
    ivf AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qb.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[],
                                                       q.embedding::DOUBLE[]), 6)
                          DESC, cb.vec_id ASC
               ) AS rank
        FROM corpus_cell cb
        JOIN query_cell qb ON cb.cell = qb.cell
        JOIN embeddings c ON c.vec_id = cb.vec_id
        JOIN embeddings q ON q.vec_id = qb.vec_id
        WHERE cb.vec_id != qb.vec_id
      ) WHERE rank <= 20
    ),
    scored AS (
      SELECT s.query_id, s.neighbor_id AS vec_id,
             e.embedding::DOUBLE[] AS vec,
             list_cosine_similarity(
               e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS rel
      FROM ivf s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN embeddings q ON q.vec_id = s.query_id
    ),
    picks AS (
      SELECT query_id, vec_id, mmr_score, 1 AS rank,
             [vec_id] AS sel_ids, [vec] AS sel_vecs
      FROM (
        SELECT query_id, vec_id, vec,
               ROUND(0.5 * rel, 6) AS mmr_score,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY ROUND(0.5 * rel, 6) DESC, vec_id ASC
               ) AS rn
        FROM scored
      ) WHERE rn = 1
      UNION ALL
      SELECT query_id, vec_id, mmr_score, rank,
             list_append(sel_ids, vec_id), list_append(sel_vecs, vec)
      FROM (
        SELECT s.query_id, s.vec_id, s.vec, p.sel_ids, p.sel_vecs,
               p.rank + 1 AS rank,
               ROUND(0.5 * s.rel - 0.5 * list_max(list_transform(
                   p.sel_vecs,
                   sv -> list_cosine_similarity(s.vec, sv))), 6)
                 AS mmr_score,
               ROW_NUMBER() OVER (
                 PARTITION BY s.query_id
                 ORDER BY ROUND(0.5 * s.rel - 0.5 * list_max(
                     list_transform(p.sel_vecs,
                       sv -> list_cosine_similarity(s.vec, sv))), 6)
                          DESC, s.vec_id ASC
               ) AS rn
        FROM scored s JOIN picks p USING (query_id)
        WHERE NOT list_contains(p.sel_ids, s.vec_id) AND p.rank < 8
      ) WHERE rn = 1
    ),
    topk AS (
      SELECT query_id, neighbor_id AS vec_id FROM ivf WHERE rank <= 8
    ),
    pm AS (
      SELECT a.query_id,
             ROUND(list_cosine_similarity(
               e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS c
      FROM picks a JOIN picks b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
      JOIN embeddings e1 ON e1.vec_id = a.vec_id
      JOIN embeddings e2 ON e2.vec_id = b.vec_id
    ),
    pt AS (
      SELECT a.query_id,
             ROUND(list_cosine_similarity(
               e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS c
      FROM topk a JOIN topk b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
      JOIN embeddings e1 ON e1.vec_id = a.vec_id
      JOIN embeddings e2 ON e2.vec_id = b.vec_id
    )
    SELECT m.query_id,
           ROUND(m.mc, 9) AS mmr_mean_cos,
           ROUND(t.tc, 9) AS topk_mean_cos
    FROM (SELECT query_id, AVG(c) AS mc FROM pm GROUP BY 1) m
    JOIN (SELECT query_id, AVG(c) AS tc FROM pt GROUP BY 1) t
      USING (query_id)
    """


_mmr_retrieval_eval_oracle_sql = _mmr_retrieval_eval_oracle()
if _mmr_retrieval_eval_oracle_sql is not None:
    PIPELINE_ORACLE_SQL["mmr_retrieval_eval"] = (
        _mmr_retrieval_eval_oracle_sql
    )
