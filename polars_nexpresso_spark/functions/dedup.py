"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of these at 100 TB):

- **Exact** — one shuffle on the 128-bit content fingerprint; the
  aggregation is partial/final so the map side pre-collapses duplicates.
- **N-gram Jaccard** — shingle-explode + equi-join on shingle, then a pair
  aggregation. Hot (high-document-frequency) shingles create quadratic pair
  blowup, so ``max_shingle_df`` drops shingles shared by more than N docs —
  the standard scalable blocker (a shingle shared by 10k docs contributes
  ~5·10⁷ pairs while carrying almost no signal).
- **MinHash+LSH** — per-doc signatures are a map-side projection (no
  shuffle); banding reduces the candidate join from O(n²) to near-linear:
  only docs sharing a band bucket are paired, then verified with exact
  Jaccard, so precision is exact and only recall depends on (bands, rows).
- **SimHash** — 60-bit fingerprint; candidate blocking on 15-bit chunks
  (any pair within Hamming distance 3 shares at least one of 4 chunks —
  pigeonhole), verified by true Hamming distance.
- **Embedding cosine** — LSH-free exact variant blocks on ``label`` (or any
  coarse partitioner); see ``similarity.py`` for the ANN path.

All hashing derives from md5 (``token_hash60``) so DuckDB oracles can
reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.similarity import _cosine, _norm
from polars_nexpresso_spark.functions.text import (
    tokens,
    doc_fingerprint,
    robust_fingerprint,
    simhash_table,
    word_ngrams,
    word_ngrams_all,
)

# Blocking tables persisted by the pair finders (minhash buckets, simhash
# chunks, ngram shingles). Lifecycle notes and the shared registry live in
# functions/_caching.py (shared with text.oov_rate — text can't import
# dedup without a cycle); release_blocking_caches stays the public name.
from polars_nexpresso_spark.functions._caching import (  # noqa: E402
    overlap,
    persist_tracked,
    release_tracked_caches as release_blocking_caches,
)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup on normalized content: one row per distinct fingerprint.

    Returns ``(fingerprint, keep_id, dup_count)`` with the smallest id as
    the deterministic representative. Single shuffle on the fingerprint.
    """
    return (
        df.select(
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("__id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def robust_dedup(
    df: DataFrame, text_col: str, id_col: str, *, fold_unicode: bool = False
) -> DataFrame:
    """Exact dedup on the CANONICALIZED fingerprint
    (:func:`~polars_nexpresso_spark.functions.text.robust_fingerprint`:
    digits collapsed, punctuation stripped) — the cheap rung between
    :func:`exact_dedup` and MinHash: it merges the crawl's
    timestamp/counter/id variants of one page WITHOUT shingling, at
    exactly exact-dedup's cost (one map-side expression, one groupBy
    shuffle with map-side partial aggregation).

    ``fold_unicode=True`` widens the canon with the fixed literal
    Unicode punctuation fold (smart quotes/dashes/NBSP → space), so a
    page and its typographically re-rendered copy merge too; the
    explicit-character-list contract keeps the md5 keys Java∩RE2
    byte-identical (see ``robust_fingerprint``). Same cost — still one
    map-side expression, one shuffle.

    Returns ``(fingerprint, keep_id, dup_count)`` with the smallest id
    as the deterministic representative, the :func:`exact_dedup`
    contract.
    """
    return (
        df.select(
            robust_fingerprint(
                F.col(text_col), fold_unicode=fold_unicode
            ).alias("fingerprint"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("__id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All document pairs with word-``n``-gram Jaccard ≥ ``threshold``.

    Exact (no approximation): explode distinct shingles, self-join on the
    shingle, count shared shingles per pair, and compute
    ``|∩| / (|A| + |B| - |∩|)``. ``max_shingle_df`` caps shingle document
    frequency to keep the pair join near-linear at scale; with the cap on,
    Jaccard is computed over the *filtered* shingle universe (hot shingles
    are excluded from both numerator and denominator), so the score stays
    internally consistent rather than a silent underestimate.

    The exploded shingle set feeds three consumers (per-doc sizes and both
    join sides), each needing a different shuffle, so uncached the scan +
    explode (+ df-cap anti-join) subtree would evaluate three times; it
    is cached (``MEMORY_AND_DISK``, spills — measured 1.72 s vs 2.11 s
    cold-cache at sf0.1). The cache is the tokenized corpus, so budget
    executor storage for roughly input size. It is retained until
    released — in a long-lived session over many corpora call
    :func:`release_blocking_caches`.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    # Explode once; all joins run on the 64-bit shingle hash — a long key
    # shuffles and compares far cheaper than ~20-char shingle strings, and
    # word_ngrams emits distinct shingles so per-doc size == exploded count.
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("__sh"),
    ).select("__id", F.xxhash64(F.col("__sh")).alias("__shingle"))

    if max_shingle_df is not None:
        hot = (
            exploded.groupBy("__shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("__shingle")
        )
        exploded = exploded.join(hot, on="__shingle", how="left_anti")

    exploded = persist_tracked(exploded)

    # Sizes AFTER the df-cap filter: numerator (shared counts) and
    # denominator (per-doc sizes) must agree on the same shingle universe.
    sizes = exploded.groupBy("__id").agg(F.count("*").alias("__n_shingles"))

    left = exploded.select(
        F.col("__id").alias("id_a"), F.col("__shingle").alias("__s")
    )
    right = exploded.select(
        F.col("__id").alias("id_b"), F.col("__shingle").alias("__s")
    )
    pairs = (
        left.join(right, on="__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__shared"))
    )
    with_sizes = (
        pairs.join(sizes.withColumnsRenamed({"__id": "id_a", "__n_shingles": "__na"}), on="id_a")
        .join(sizes.withColumnsRenamed({"__id": "id_b", "__n_shingles": "__nb"}), on="id_b")
    )
    jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
    return (
        with_sizes.select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


_MINHASH_PRIME = 4294967291  # largest 32-bit prime
# shingle polynomial base/modulus, shared by the grouped-min path
# (minhash_signatures) and the stateless per-row path
# (dedup_against_index_stream) so their signatures agree by construction
_SHINGLE_B, _SHINGLE_M = 1000003, 2147483647


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutation family,
    derived from md5 so runs and machines agree with no RNG state."""
    import hashlib

    params = []
    for i in range(num_hashes):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % (2**31 - 1)) + 1
        b = int(h[8:16], 16) % (2**31)
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature via shingle-explode + grouped mins.

    Shingle hashes are built ARITHMETICALLY: one xxhash64 per token, then a
    polynomial combination of each window of ``n`` consecutive token hashes
    — no shingle strings are ever allocated (``word_ngrams``'s per-position
    ``slice`` + ``array_join`` is the expensive part of signature
    computation; it remains in use only for exact-Jaccard verification,
    where true shingle identity matters). Documents shorter than ``n``
    tokens fold all their token hashes into a single shingle hash,
    mirroring ``word_ngrams``'s short-document rule. ``min`` is idempotent
    over duplicates, so skipping shingle dedup changes nothing.

    Token hashes materialize in their own projection before the window
    combination references them ``n`` times (referencing a non-cheap array
    expression more than once re-evaluates it — CollapseProject does not
    CSE). The ``num_hashes`` affine permutations ``(a_i·h + b_i) mod p``
    over the 32-bit folded base hash are codegen'd long arithmetic with
    map-side partial aggregation: the shuffle carries one ``num_hashes``-
    long row per (doc × partition). All arithmetic stays within signed-64
    range (a < 2³¹, h < 2³²)."""
    # 32-bit token hashes and a mod-(2^31-1) polynomial keep every operand
    # comfortably inside signed-64 under ANSI overflow checking:
    # acc < 2^31, acc*B < 2^51, + th < 2^51 + 2^32.
    # r14 (guide §3.3 — the r13 C4/C5 pattern): the window fold and the
    # ``num_hashes`` affine-min aggregates parse as SQL strings instead
    # of several hundred py4j Column round trips (~1-2 s of driver
    # Python per call); the trees Catalyst sees are identical — get()
    # is the same 0-based accessor, %, * and + keep the same literal
    # types (int literals stay INT, the 33-bit prime parses BIGINT) and
    # the same left-associative fold order, so signatures are
    # bit-identical (oracle-pinned).
    _B, _M = _SHINGLE_B, _SHINGLE_M
    tok_hashes = df.select(
        F.col(id_col).alias("__id"),
        F.transform(
            tokens(F.col(text_col)),
            lambda t: F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF)),
        ).alias("__th"),
    )

    acc = f"(get(__th, i) % {_M})"
    for j in range(1, n):
        acc = f"((({acc} * {_B}) + get(__th, i + {j})) % {_M})"
    full_fold = (
        f"aggregate(__th, CAST(0 AS BIGINT), "
        f"(a, x) -> (((a * {_B}) + x) % {_M}))"
    )
    shingle_sql = (
        f"CASE WHEN size(__th) >= {n} "
        f"THEN transform(sequence(0, size(__th) - {n}), i -> {acc}) "
        f"ELSE array({full_fold}) END"
    )
    hashed = tok_hashes.selectExpr("__id", f"explode({shingle_sql}) AS __h")
    aggs = [
        F.expr(f"min(((__h * {a}) + {b}) % {_MINHASH_PRIME}) AS mh_{i}")
        for i, (a, b) in enumerate(_affine_params(num_hashes, seed))
    ]
    return hashed.groupBy("__id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact Jaccard.

    ``num_hashes`` minhashes split into ``bands`` bands of ``r`` rows; docs
    sharing any band bucket become candidates (probability ≈
    1-(1-j^r)^bands), then candidates are verified with exact shingle
    Jaccard so every emitted pair truly satisfies ``jaccard ≥ threshold``.

    The banded bucket table is cached before the candidate self-join:
    both join sides read it, Catalyst's exchange reuse does NOT unify them
    (the per-side aliases break canonicalized matching), so without the
    cache the whole shingle+signature pipeline — the expensive half of
    this operator — evaluates twice. The cached table is O(docs × bands)
    longs (``MEMORY_AND_DISK``, spills): ≪ corpus text, and strictly
    cheaper than recomputing signatures at any scale. Measured cold-cache
    at sf0.1: 1.04 s vs 2.42 s.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    sigs = minhash_signatures(
        df, text_col, id_col, n=n, num_hashes=num_hashes
    )
    # One pass: band bucket ids as an array, then posexplode — the signature
    # pipeline is evaluated once per row, not once per band (a 16-band union
    # of selects would recompute all shingle hashing 16×). Parsed as one
    # SQL string (r14, guide §3.3): same xxhash64(band, mh...) trees,
    # ~60 fewer py4j round trips per call.
    band_sql = ", ".join(
        "xxhash64({})".format(
            ", ".join([str(b)] + [f"mh_{b * r + j}" for j in range(r)])
        )
        for b in range(bands)
    )
    buckets = sigs.selectExpr(
        "__id", f"posexplode(array({band_sql})) AS (__band, __bucket)"
    )
    buckets = persist_tracked(buckets)

    left = buckets.select(
        F.col("__id").alias("id_a"), "__band", "__bucket"
    )
    right = buckets.select(
        F.col("__id").alias("id_b"), "__band", "__bucket"
    )
    candidates = (
        left.join(right, on=["__band", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # Join raw text onto the (near-linear) candidate set FIRST, then shingle:
    # word_ngrams runs only on candidate rows instead of a third/fourth full
    # corpus pass (the expensive part of verification is shingling, not the
    # array_intersect).
    texts = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    verified = (
        candidates.join(
            texts.withColumnsRenamed({"__id": "id_a", "__t": "__ta"}), on="id_a"
        )
        .join(
            texts.withColumnsRenamed({"__id": "id_b", "__t": "__tb"}), on="id_b"
        )
        .withColumn("__sa", word_ngrams(F.col("__ta"), n))
        .withColumn("__sb", word_ngrams(F.col("__tb"), n))
        .withColumn(
            "__shared", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (F.size("__sa") + F.size("__sb") - F.col("__shared")),
                6,
            ),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    The blocking/verify machinery is :func:`hamming_pairs` (shared with
    the multimodal average-hash dedup); this wrapper just computes the
    60-bit text simhash first.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    hashed = simhash_table(df, text_col, id_col, bits=60)
    return hamming_pairs(hashed, "simhash", id_col, bits=60, max_hamming=max_hamming)


def hamming_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    *,
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """All id pairs whose ``bits``-wide integer hashes are within
    Hamming distance ``max_hamming`` — the generic fingerprint-dedup
    kernel behind :func:`simhash_pairs` (text) and
    ``multimodal.image_ahash`` (images); any bounded-width integer
    fingerprint column works.

    Blocking: the hash splits into ``max_hamming + 1`` chunks; by
    pigeonhole, any pair within the radius agrees on ≥1 chunk (a
    guarantee a FIXED chunk count cannot give for larger radii), so
    candidates come from an equi-join on (chunk_index, chunk_value) and
    are then verified with the true bit_count of the XOR. Larger radii
    mean narrower chunks → more candidates: the usual recall/cost dial.

    The O(rows × chunks) blocking table is cached before the self-join —
    both sides read it and exchange reuse does not unify the
    differently-aliased branches, so uncached the upstream hash
    computation runs twice (for simhash, the expensive explode + 60
    grouped bit counts; measured cold-cache at sf0.1: 1.01 s vs 1.82 s).

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63]: {bits}")
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(f"max_hamming must be < {bits}")
    base, extra = divmod(bits, n_chunks)
    hashed = df.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__sim")
    )
    # One simhash evaluation per row: chunk values are cheap bit ops over
    # the materialized __sim column, posexploded to (chunk, value) rows (a
    # per-chunk union would re-evaluate the 60-pass simhash per branch).
    chunk_exprs = []
    offset = 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        chunk_exprs.append(
            F.shiftright(F.col("__sim"), offset).bitwiseAND(F.lit((1 << width) - 1))
        )
        offset += width
    chunks = hashed.select(
        "__id",
        "__sim",
        F.posexplode(F.array(*chunk_exprs)).alias("__chunk", "__val"),
    )
    chunks = persist_tracked(chunks)

    left = chunks.select(
        F.col("__id").alias("id_a"), F.col("__sim").alias("__sim_a"), "__chunk", "__val"
    )
    right = chunks.select(
        F.col("__id").alias("id_b"), F.col("__sim").alias("__sim_b"), "__chunk", "__val"
    )
    # Verify (cheap codegen XOR + bit_count) BEFORE the dedup: a pair can
    # collide on several chunks, and filtering the duplicated candidate rows
    # first shrinks the distinct's shuffle instead of shuffling rows that
    # the radius check would discard anyway.
    hamming = F.bit_count(F.col("__sim_a").bitwiseXOR(F.col("__sim_b")))
    return (
        left.join(right, on=["__chunk", "__val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine similarity ≥ ``threshold``.

    Exact within blocks: pairs are formed inside ``block_col`` partitions
    (e.g. a cluster label or LSH bucket) to avoid the full n² cross join; a
    null ``block_col`` compares everything (only for small inputs).

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``; the cosine is
    ``similarity._cosine``'s, so a zero vector scores 0.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__norm"),
        *( [F.col(block_col).alias("__blk")] if block_col else [F.lit(0).alias("__blk")] ),
    )
    left, right = (
        base.select(
            F.col("__id").alias(f"id_{s}"),
            F.col("__v").alias(f"__v{s}"),
            F.col("__norm").alias(f"__n{s}"),
            "__blk",
        )
        for s in "ab"
    )
    return (
        left.join(right, on="__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine("__va", "__vb", "__na", "__nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# Safety net of dedup_clusters: large-star/small-star needs O(log n) rounds
# (17 for a 10⁵-node path), so reaching this bound means a bug, never a
# deep component.
_MAX_ROUNDS = 64


def _ends(edges: DataFrame) -> DataFrame:
    """Each ``(__hi, __lo)`` edge seen from both ends, as ``(__n, __o,
    __up)`` rows; ``__up`` marks the row whose other end ``__o`` is larger."""
    return edges.selectExpr("__lo AS __n", "__hi AS __o", "true AS __up").unionByName(
        edges.selectExpr("__hi AS __n", "__lo AS __o", "false AS __up")
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star then one small-star step (Kiveris et al., SoCC 2014)
    over ``(__hi, __lo)`` edges with ``__lo < __hi``; the result never has
    more edges than the input: two window exchanges and one distinct."""
    # Large-star: edge (h, l) becomes (h, m), m = the least of l and its
    # neighbors.
    m = F.least("__n", F.min("__o").over(Window.partitionBy("__n")))
    large = _ends(edges).select("__o", "__up", m.alias("__m")).filter("__up")
    # Small-star: h and all its lower neighbors attach to the least of them.
    m = F.min("__m").over(Window.partitionBy("__o"))
    return (
        large.select(F.array("__o", "__m").alias("__ends"), m.alias("__m"))
        .select(F.explode("__ends").alias("__hi"), F.col("__m").alias("__lo"))
        .filter(F.col("__hi") != F.col("__lo"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True once every component is a star centred on its least node:
    every node is either only ever the smaller end (a centre) or the
    larger end of exactly one edge (a leaf)."""
    per_node = _ends(edges).groupBy("__n").agg(
        F.bool_and("__up").alias("__centre"), F.count("*").alias("__deg")
    )
    return per_node.filter(~F.col("__centre") & (F.col("__deg") > 1)).isEmpty()


def dedup_clusters(nodes: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Canonicalize near-duplicate PAIRS into connected-component clusters.

    The missing step between a pair finder (``ngram_jaccard_pairs``,
    ``minhash_lsh_pairs``, ``simhash_pairs``, ``embedding_cosine_pairs`` —
    anything emitting ``(id_a, id_b, ...)``) and an actual dedup decision:
    duplicates are transitive (A≈B, B≈C ⇒ keep one of {A,B,C}), so the keep
    set is one representative per connected component of the pair graph.

    Returns one ``(id, cluster_id)`` row per DISTINCT id of ``nodes``;
    ``cluster_id`` is the smallest id reachable through the pairs
    (singletons map to themselves) — filter ``id == cluster_id`` for the
    keep set. Pair ends missing from ``nodes`` carry connectivity but get
    no row; self-pairs and pairs with a NULL end are ignored.

    Scale design: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over the
    edge list alone, as ``(greatest, least)`` pairs. It needs O(log n)
    rounds, not one per hop of component diameter (17 for a 10⁵-node
    path), and no round emits more edges than it reads, so every exchange
    is bounded by 2·|pairs| at any corpus size. Each round is pinned by one
    eager ``localCheckpoint`` (flat lineage) and followed by one
    ``isEmpty``; the loop stops once the edges form stars centred on each
    component's least id, and raises ``RuntimeError`` past ``_MAX_ROUNDS``
    rather than return unconverged labels. The labels then attach to the
    distinct node ids by one left join, pinned as well, so the returned
    frame is a read of pinned blocks. NOTE: the eager pins mean merely
    CONSTRUCTING the result runs Spark jobs.
    """
    a, b = F.col("id_a"), F.col("id_b")
    # a != b is NULL for a NULL end, so this drops those and self-pairs.
    # The pin keeps round one from running the pair finder's plan twice.
    edges = pairs.filter(a != b).select(
        F.greatest(a, b).alias("__hi"), F.least(a, b).alias("__lo")
    ).localCheckpoint(eager=False)
    for _ in range(_MAX_ROUNDS):
        edges = _star_round(edges).localCheckpoint(eager=True)
        if _is_star_forest(edges):
            break
    else:
        raise RuntimeError(
            f"dedup_clusters: no convergence within _MAX_ROUNDS={_MAX_ROUNDS} rounds"
        )
    ids = nodes.select(F.col(id_col).alias("__id")).distinct()
    # cluster_id keeps the id column's type even when the pair ids are wider.
    label = F.coalesce("__lo", "__id").cast(ids.schema["__id"].dataType)
    return (
        ids.join(edges.withColumnRenamed("__hi", "__id"), "__id", "left")
        .select(F.col("__id").alias(id_col), label.alias("cluster_id"))
        .localCheckpoint(eager=True)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    mode: str = "ngram",
    n: int = 13,
) -> DataFrame:
    """Drop training documents that collide with an evaluation set.

    The cross-corpus shape none of the self-join pair finders cover:
    benchmark contamination is checked train-vs-eval, not train-vs-train.

    - ``mode="exact"`` — remove train docs whose normalized content
      fingerprint appears in eval (verbatim inclusion).
    - ``mode="ngram"`` (default) — remove train docs sharing ANY word
      ``n``-gram with any eval doc; ``n=13`` is the published
      contamination rule used for GPT-3-style training sets (a 13-gram
      collision between natural documents is overwhelmingly evidence of
      shared provenance, not chance).

    Scale design: the eval side is exploded to distinct shingle hashes and
    deduplicated — typically a few million longs even for large benchmark
    suites — then the train side's exploded shingles LEFT SEMI join it to
    find contaminated ids and a LEFT ANTI join removes them. Both joins
    are on 64-bit hashes; Spark broadcasts the eval shingle set when small
    (AQE decides), so the common case adds no shuffle to the train scan.

    Returns the surviving train rows, schema unchanged.
    """
    if mode == "exact":
        eval_fp = eval_df.select(
            doc_fingerprint(F.col(text_col)).alias("__fp")
        ).distinct()
        train_fp = train.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        return train_fp.join(eval_fp, on="__fp", how="left_anti").drop("__fp")
    if mode != "ngram":
        raise ValueError(f"mode must be 'exact' or 'ngram', got {mode!r}")

    def shingle_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("__sh"),
        ).select("__id", F.xxhash64(F.col("__sh")).alias("__shingle"))

    eval_shingles = shingle_hashes(eval_df).select("__shingle").distinct()
    contaminated = (
        shingle_hashes(train)
        .join(eval_shingles, on="__shingle", how="left_semi")
        .select(F.col("__id"))
        .distinct()
    )
    return train.join(
        contaminated.withColumnRenamed("__id", id_col), on=id_col, how="left_anti"
    )


def decontaminate_stream(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    *,
    n: int = 13,
    max_eval_shingles: int = 2_000_000,
) -> DataFrame:
    """Stream-safe n-gram decontamination: STATELESS, map-side only.

    :func:`decontaminate` is the batch shape (semi/anti joins need per-doc
    aggregation, which on a stream would demand watermarked state). This
    variant instead collects the eval side's distinct shingle hashes ONCE
    into a sorted dictionary (eval/benchmark sets are bounded by
    construction — guarded by ``max_eval_shingles``), computes each train
    doc's shingle-hash array JVM-side, and drops docs with any dictionary
    hit via a vectorized membership probe (binary search per Arrow batch).
    No join, no shuffle, no state: works identically on a batch DataFrame
    and an unbounded ``readStream`` — the broadcast-dictionary pattern a
    production ingest pipeline uses for contamination filtering.

    The train side accepts any frame (batch or streaming); ``eval_df``
    must be batch (it is collected). Same shingle rule as
    :func:`decontaminate` ``mode="ngram"``: identical survivors.

    Returns surviving train rows, schema unchanged.
    """
    import numpy as np

    # Arrow-batched driver transfer (toPandas), not row-wise collect():
    # the dictionary is O(distinct shingles) longs and Row-object
    # materialization dominated the build cost at sf0.1.
    pdf = (
        eval_df.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("__sh")
        )
        .select(F.xxhash64(F.col("__sh")).alias("__h"))
        .distinct()
        .toPandas()
    )
    if len(pdf) > max_eval_shingles:
        raise ValueError(
            f"eval set has {len(pdf)} distinct {n}-gram shingles > "
            f"max_eval_shingles={max_eval_shingles}; use the batch "
            "decontaminate() join path for eval sets this large"
        )
    eval_sorted = np.sort(pdf["__h"].to_numpy(dtype=np.int64))

    from polars_nexpresso_spark.functions._vectorized import (
        pandas_member_overlap,
    )

    # asNondeterministic is a PLAN pin, not a semantic statement (the probe
    # is pure): a deterministic predicate gets pushed below any upstream
    # repartition, which (a) inlines the expensive shingle expression into
    # a pre-exchange Filter that re-evaluates per reference and (b) on a
    # single-row-group input runs it on ONE task. Pinned above the
    # exchange: evaluated once, on all cores. Measured at sf0.1:
    # 0.98 s vs 6.0 s.
    contaminated = pandas_member_overlap(eval_sorted).asNondeterministic()
    doc_hashes = F.transform(
        word_ngrams(F.col(text_col), n), lambda s: F.xxhash64(s)
    )
    return (
        train.withColumn("__doc_shingles", doc_hashes)
        .filter(~contaminated(F.col("__doc_shingles")))
        .drop("__doc_shingles")
    )


def duplicated_window_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of token windows whose content also appears
    in at least ``min_df`` distinct documents — the exact-substring
    duplication metric from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022: fraction of w-grams duplicated
    across the corpus; their w=50, the default here is smaller for
    short-document corpora).

    Complements the similarity family (MinHash/SimHash find near-dup
    DOCUMENT PAIRS; this scores how much of each document is made of
    corpus-repeated SPANS — boilerplate headers, licence blocks, copied
    paragraphs) and the per-document ``repetition`` signal (which is
    within-doc only). Filter or down-weight on ``dup_frac``.

    Scale shape: one explode to (window-hash, doc) pairs, a partial-agg
    distinct-doc count per hash, a co-partitioned left join back on the
    hash (both sides arrive hash-partitioned on it — no extra exchange),
    and a per-doc aggregation. No pairwise anything: cost is linear in
    total windows. The (id, window-hash) table is cached, since the
    aggregation and the join both read it. Windowing uses ``word_ngrams_all`` (multiset,
    position-ordered), so documents shorter than ``window`` tokens
    contribute one window holding their whole token sequence.

    Returns ``(id_col, n_windows, n_dup_windows, dup_frac)``.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2: {min_df}")
    exploded = df.select(
        F.col(id_col),
        F.explode(word_ngrams_all(F.col(text_col), window)).alias("__win"),
    ).select(F.col(id_col), F.xxhash64(F.col("__win")).alias("__h"))
    # Both the duplicated-hash aggregation and the marked join side read
    # `exploded`; uncached the corpus window explode runs twice (aliasing
    # breaks exchange reuse — the minhash buckets discipline). Narrow
    # (id, hash) rows, MEMORY_AND_DISK.
    exploded = persist_tracked(exploded)
    dup = (
        exploded.groupBy("__h")
        .agg(F.countDistinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__h", F.lit(1).alias("__isdup"))
    )
    marked = exploded.join(dup, on="__h", how="left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.coalesce(F.sum("__isdup"), F.lit(0)).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows"), 6
            ).alias("dup_frac"),
        )
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 13,
) -> DataFrame:
    """Per-eval-document contamination severity: how many of the doc's
    distinct word ``n``-grams appear anywhere in the training corpus.

    :func:`decontaminate` DROPS train docs on any collision; this is the
    measurement side — run it before deciding, or on a benchmark suite
    to quantify leakage (``hit_frac`` near 1 = the benchmark is
    effectively memorizable from training data). Same 13-gram rule and
    shingling convention as ``decontaminate`` (docs shorter than ``n``
    tokens contribute their whole token sequence as one shingle).

    Scale shape: the train side reduces to DISTINCT shingle hashes (one
    partial-agg pass); eval shingles LEFT JOIN it on the 64-bit hash
    (broadcast when small — the typical case, since eval benchmarks are
    tiny next to training corpora) and aggregate per eval doc. Linear,
    no pairwise step.

    Returns ``(id_col, n_shingles, n_hit, hit_frac)``, one row per eval
    document with at least one token.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    ev = eval_df.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("__s"),
    ).select(F.col(id_col), F.xxhash64(F.col("__s")).alias("__h"))
    train_sh = (
        train.select(F.explode(word_ngrams(F.col(text_col), n)).alias("__s"))
        .select(F.xxhash64(F.col("__s")).alias("__h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        ev.join(train_sh, on="__h", how="left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias(
                "hit_frac"
            ),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_docs: int | None = 3,
    min_doc_frac: float | None = None,
    delimiter: str = "\n",
) -> DataFrame:
    """Strip cross-corpus boilerplate LINES: any line whose exact text
    occurs in at least ``min_docs`` DISTINCT documents (or, with
    ``min_doc_frac``, in at least ``ceil(frac * n_docs)`` of them — the
    scale-robust form, since an absolute count means different things at
    different corpus sizes) is removed from every document. This is the
    CCNet / RefinedWeb move against nav bars, cookie banners, license
    footers — repeated-across-docs lines carry no training signal and
    skew n-gram statistics. ``delimiter`` is a LITERAL string (newline
    by default; pass e.g. ``" "`` to treat tokens as the unit and strip
    corpus-ubiquitous words). NULL text counts as empty (``clean_text
    = ''``, well-defined ``n_kept``/``n_removed`` — never negative).

    A line repeated many times inside ONE document is not boilerplate
    by this rule (that is :func:`duplicated_window_fraction`'s
    department); the counting is per distinct document. Lines compare
    by 64-bit ``xxhash64`` — the same fingerprint convention every
    pair-finder in this module uses (a cross-line collision at 2^-64 is
    noise next to the threshold's own arbitrariness).

    Scale shape — the corpus TEXT payload never rides a boilerplate
    exchange. Line hashes are computed inside the split array map-side,
    so the exploded table is narrow ``(doc, position, hash)`` rows; the
    frequency aggregation is a hash-keyed groupBy with map-side partial
    ``count(distinct doc)`` state; the fraction threshold attaches as a
    broadcast 1-row aggregate (no driver action); removal is a LEFT
    ANTI equi-join of the narrow rows against the (small — only lines
    crossing the threshold) boilerplate hash set. Reassembly joins the
    per-doc KEPT POSITIONS (an int array) back to the input and slices
    the original split array by position — one doc-keyed exchange of
    the text, down from the three full-text shuffles of a
    text-keyed-join + collect_list-reassembly plan. Documents whose
    every line is boilerplate survive with empty ``clean_text`` (left
    join keeps every input row). When the boilerplate set is small,
    AQE broadcasts it at runtime and the anti-join runs map-side. The
    threshold computation itself needs the full corpus, so for streams
    use :func:`remove_fixed_boilerplate` with a precomputed line set.

    Returns ``(id_col, clean_text, n_kept, n_removed)``.
    """
    import re as _re

    if min_doc_frac is not None:
        if not 0.0 < min_doc_frac <= 1.0:
            raise ValueError(
                f"min_doc_frac must be in (0, 1]: {min_doc_frac}"
            )
    elif min_docs is None or min_docs < 1:
        raise ValueError(f"min_docs must be >= 1: {min_docs}")
    if not delimiter:
        raise ValueError("delimiter must be a non-empty literal string")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    split_lines = F.split(txt, _re.escape(delimiter))
    line_hashes = F.transform(split_lines, lambda s: F.xxhash64(s))
    # Narrow exploded table: (doc, position, 64-bit line hash) — the
    # line text stays inside the source rows.
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(line_hashes).alias("__pos", "__h"),
    )
    counts = exploded.groupBy("__h").agg(
        F.countDistinct(id_col).alias("__nd")
    )
    if min_doc_frac is not None:
        bar = docs.agg(
            F.ceil(F.count("*") * F.lit(float(min_doc_frac)))
            .cast("long")
            .alias("__bar")
        )
        counts = counts.crossJoin(F.broadcast(bar))
        boiler = counts.filter(F.col("__nd") >= F.col("__bar")).select(
            "__h"
        )
    else:
        boiler = counts.filter(F.col("__nd") >= min_docs).select("__h")

    src = docs.select(
        F.col(id_col),
        split_lines.alias("__arr"),
        F.size(split_lines).cast("long").alias("__total"),
    )

    kept_pos = (
        exploded.join(boiler, on="__h", how="left_anti")
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list("__pos")).alias("__keep"),
        )
    )
    rebuilt = F.concat_ws(
        delimiter,
        F.transform(
            F.col("__keep"), lambda p: F.element_at(F.col("__arr"), p + 1)
        ),
    )
    return src.join(kept_pos, on=id_col, how="left").select(
        id_col,
        F.coalesce(rebuilt, F.lit("")).alias("clean_text"),
        F.coalesce(F.size("__keep"), F.lit(0)).cast("long").alias("n_kept"),
        (
            F.col("__total")
            - F.coalesce(F.size("__keep"), F.lit(0))
        ).cast("long").alias("n_removed"),
    )


def remove_fixed_boilerplate(
    docs: DataFrame,
    lines,
    text_col: str,
    id_col: str,
    *,
    delimiter: str = "\n",
    max_lines: int = 4_000_000,
    expr_threshold: int = 256,
) -> DataFrame:
    """Strip a KNOWN boilerplate line set — the stream-safe member of
    the family (:func:`remove_boilerplate_lines` must aggregate the
    whole corpus to discover the set; this takes it as given — from a
    prior batch run, a curated blocklist, or a reference corpus — and
    is stateless, map-side only: no join, no shuffle, no state, so it
    works identically on a batch DataFrame and an unbounded
    ``readStream``, same broadcast-dictionary pattern as
    :func:`decontaminate_stream`).

    ``lines`` is an iterable of literal line strings or a 1-column
    batch DataFrame of them (collected once, guarded by ``max_lines``).
    Small sets (≤ ``expr_threshold``) filter via a pure codegen
    ``array_contains`` expression; larger ones via one Arrow-batched
    frozenset probe per batch — both stateless. NULL text counts as
    empty, as in the discovery variant.

    Returns ``(id_col, clean_text, n_kept, n_removed)`` — the family
    contract.
    """
    import re as _re

    if not delimiter:
        raise ValueError("delimiter must be a non-empty literal string")
    if isinstance(lines, DataFrame):
        cols = lines.columns
        if len(cols) != 1:
            raise ValueError(
                f"lines DataFrame must have exactly 1 column: {cols}"
            )
        capped = lines.limit(max_lines + 1).toPandas()
        if len(capped) > max_lines:
            raise ValueError(
                f"lines set exceeds max_lines={max_lines}; boiler sets "
                "this large should use the batch join path"
            )
        line_set = [x for x in capped[cols[0]].tolist() if x is not None]
    else:
        line_set = list(lines)
        if len(line_set) > max_lines:
            raise ValueError(
                f"lines set has {len(line_set)} entries > "
                f"max_lines={max_lines}"
            )
    txt = F.coalesce(F.col(text_col), F.lit(""))
    arr = F.split(txt, _re.escape(delimiter))
    if len(line_set) <= expr_threshold:
        if line_set:
            lit_arr = F.array(*[F.lit(s) for s in line_set])
            kept = F.filter(arr, lambda x: ~F.array_contains(lit_arr, x))
        else:
            kept = arr
    else:
        from polars_nexpresso_spark.functions._vectorized import (
            pandas_keep_lines,
        )

        kept = pandas_keep_lines(line_set).asNondeterministic()(arr)
    out = docs.withColumn("__kept", kept)
    return out.select(
        id_col,
        F.concat_ws(delimiter, F.col("__kept")).alias("clean_text"),
        F.size("__kept").cast("long").alias("n_kept"),
        (F.size(arr) - F.size("__kept")).cast("long").alias("n_removed"),
    )


def dedup_lines_within_doc(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    delimiter: str = "\n",
) -> DataFrame:
    """Remove repeated lines WITHIN each document, keeping the first
    occurrence in reading order (the intra-doc counterpart of
    :func:`remove_boilerplate_lines` — scraped pages repeat nav blocks,
    chat logs repeat system banners; cross-DOC repetition is the other
    function's job and :func:`duplicated_window_fraction` measures
    sub-line window duplication). NULL text counts as empty.

    Scale shape: ZERO shuffles — one map-side expression per row.
    ``array_distinct`` keeps the first occurrence of each element in
    encounter order via a JVM hash set, so per-row cost is O(lines)
    (measured: a pathological 100k-line single-row document dedups in
    under a second — no quadratic blowup, no per-document cap needed).
    No explode, no reassembly join, stream-safe by construction.

    Returns ``(id_col, clean_text, n_kept, n_removed)`` — same contract
    as :func:`remove_boilerplate_lines`.
    """
    import re as _re

    if not delimiter:
        raise ValueError("delimiter must be a non-empty literal string")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    arr = F.split(txt, _re.escape(delimiter))
    firsts = F.array_distinct(arr)
    return docs.select(
        F.col(id_col),
        F.concat_ws(delimiter, firsts).alias("clean_text"),
        F.size(firsts).cast("long").alias("n_kept"),
        (F.size(arr) - F.size(firsts)).cast("long").alias("n_removed"),
    )


def remove_duplicated_windows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 8,
    delimiter: str = " ",
    keep_first: bool = True,
) -> DataFrame:
    """Exact duplicated-substring REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``window``-token span whose exact content occurs >= 2 times
    corpus-wide (across documents or repeated within one) is removed
    from every occurrence except the canonical first — the removal
    counterpart of :func:`duplicated_window_fraction`, which only
    measures. The paper's w=50 suits web-scale corpora; the smaller
    default matches this repo's short-document test corpus.

    ``keep_first=True`` keeps the globally first occurrence (minimum
    ``(doc_id, position)``) so shared content survives exactly once;
    ``keep_first=False`` strips every occurrence (the decontamination-
    style hard mode). Tokens are ``delimiter`` splits (a LITERAL
    string); documents shorter than ``window`` tokens have no windows
    and pass through unchanged. NULL text counts as empty. A token is
    removed when ANY removed occurrence covers it, so overlapping
    duplicated windows merge into removed spans naturally.

    Scale shape — the corpus text never rides a duplication exchange
    (same discipline as :func:`remove_boilerplate_lines`): the exploded
    table is narrow ``(doc, position, xxhash64(window))`` rows; the
    occurrence count is one hash-keyed partial agg; the canonical-first
    election is a ``min(struct(doc, pos))`` over the same key (only for
    windows already known duplicated); covered token positions fan out
    by at most ``window`` per REMOVED occurrence (duplication is sparse
    in a healthy corpus — the fan-out is proportional to what gets
    removed, not to the corpus); reassembly joins one int-array of
    removed positions per affected doc back to the source and slices
    the split array map-side. No global sort, no row loss.

    Returns ``(id_col, clean_text, n_kept, n_removed)`` — the family
    contract (counts in tokens).
    """
    import re as _re

    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    if not delimiter:
        raise ValueError("delimiter must be a non-empty literal string")

    txt = F.coalesce(F.col(text_col), F.lit(""))
    arr = F.split(txt, _re.escape(delimiter))
    src = docs.select(
        F.col(id_col),
        arr.alias("__arr"),
        F.size(arr).cast("long").alias("__n"),
    )
    # Window-content hashes by start position (0-based); docs shorter
    # than the window emit none. sequence() would count DOWN for a
    # negative span, hence the explicit guard.
    win_hashes = F.when(
        F.col("__n") >= window,
        F.transform(
            F.sequence(F.lit(0), F.col("__n") - window),
            lambda p: F.xxhash64(
                F.array_join(
                    F.slice(F.col("__arr"), p + 1, window), delimiter
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    occ = src.select(
        F.col(id_col), F.posexplode(win_hashes).alias("__pos", "__h")
    )
    # NOTE (r14): `occ` feeds three consumers under keep_first and the
    # per-side aliases break exchange reuse, but a persist_tracked
    # cache here measured 1.22× in the interleaved A/B and was
    # REVERTED: occ is one row per token position (corpus-token-sized,
    # unlike the distinct-shingle/bucket tables the discipline caches
    # elsewhere), so materializing it costs more than recomputing the
    # cheap map-side explode once per consumer — at any scale the cache
    # would hold ~the tokenized corpus.
    dup_h = occ.groupBy("__h").count().filter(F.col("count") >= 2)
    if keep_first:
        # Canonical-first election rides the same aggregation key; the
        # join back is co-partitioned on __h.
        first = occ.groupBy("__h").agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w")
        )
        removed_occ = (
            occ.join(dup_h.select("__h"), on="__h")
            .join(first, on="__h")
            .filter(
                ~(
                    (F.col(id_col) == F.col("__w")[id_col])
                    & (F.col("__pos") == F.col("__w.__pos"))
                )
            )
            .select(F.col(id_col), F.col("__pos"))
        )
    else:
        removed_occ = occ.join(dup_h.select("__h"), on="__h").select(
            F.col(id_col), F.col("__pos")
        )
    removed_pos = (
        removed_occ.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (window - 1))
            ).alias("__tp"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__tp").alias("__rm"))
    )
    merged = src.join(removed_pos, on=id_col, how="left")
    kept = F.array_except(
        F.sequence(F.lit(0), F.col("__n") - 1),
        F.coalesce(F.col("__rm"), F.array().cast("array<int>")),
    )
    rebuilt = F.array_join(
        F.transform(
            kept,
            lambda p: F.element_at(F.col("__arr"), (p + 1).cast("int")),
        ),
        delimiter,
    )
    return merged.select(
        F.col(id_col),
        rebuilt.alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.col("__n") - F.size(kept)).cast("long").alias("n_removed"),
    )


def keep_best_in_clusters(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware dedup decisions: per near-dup cluster keep the
    HIGHEST-``score_col`` member, not an arbitrary one.

    :func:`dedup_clusters` canonicalizes each connected component to its
    minimum id — correct as a dedup decision but indifferent to which
    copy survives. Production corpora care: near-dup crawls of a page
    differ in boilerplate residue, truncation, encoding damage, and the
    keeper should be the best copy (Gopher/C4 keep-best practice). This
    takes the cluster labeling plus any per-document numeric quality
    score (:func:`~polars_nexpresso_spark.functions.text.quality_score`,
    an LM/NB score, or plain length) and flags the argmax per cluster.

    Tie-break: equal scores keep the smallest id; NULL scores rank below
    every non-NULL score (a scoreless doc never beats a scored one —
    all-NULL clusters fall back to min-id, i.e. ``dedup_clusters``'s own
    rule). Singleton clusters keep themselves.

    Scale shape: the corpus text never moves — only ``(id, score)``
    joins the ``(id, cluster_id)`` labeling (an id-keyed equi-join), the
    winner election is one ``min_by`` aggregation on ``cluster_id``
    (sort-based because the ordering key is a struct, but with a
    map-side ``partial_min_by`` phase, and the per-partition sort is
    over the three narrow election columns only), and the keep flag
    attaches by joining the (one-row-per-cluster — small, AQE
    broadcasts it at runtime) winner table back to the LABELING, not to
    the scored join — the docs table is scanned once. No window
    function, no per-cluster sort of documents.

    Returns ``(id_col, cluster_id, keep)`` — one row per ``clusters``
    row; filter ``keep`` for the surviving corpus.
    """
    scored = docs.select(
        F.col(id_col),
        F.col(score_col).cast("double").alias("__score"),
    )
    labeled = clusters.join(scored, on=id_col, how="left")
    # Lexicographic struct order: (-score asc, id asc) == score desc,
    # id asc. NULL scores coalesce to -inf so they sort after any real
    # score (struct comparison with a NULL field would otherwise make
    # the whole comparison NULL-ordered).
    rank_key = F.struct(
        (-F.coalesce(F.col("__score"), F.lit(float("-inf")))).alias("__negs"),
        F.col(id_col).alias("__id"),
    )
    winners = labeled.groupBy("cluster_id").agg(
        F.min_by(F.col(id_col), rank_key).alias("__winner")
    )
    # The keep flag needs no score — join winners onto the raw labeling
    # so the docs(score) join is not computed a second time.
    return (
        clusters.join(winners, on="cluster_id", how="left")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            (F.col(id_col) == F.col("__winner")).alias("keep"),
        )
    )


def duplication_weights(
    clusters: DataFrame,
    id_col: str,
) -> DataFrame:
    """Soft dedup: near-duplicates are down-WEIGHTED instead of dropped.

    Hard dedup (:func:`dedup_clusters` + keep one) discards every extra
    copy, but duplicate frequency is itself signal — content crawled
    many times is often high-value, and some training recipes prefer to
    keep all copies with sampling weight ``1 / cluster_size`` so each
    near-dup cluster contributes the expected token mass of exactly one
    copy (the SoftDeDup idea; also the reweighting used when dedup must
    be non-destructive for provenance reasons). Downstream,
    ``sample_weight`` plugs straight into the samplers — e.g. as the
    DSIR/importance column or multiplied into mixture weights before
    :func:`~polars_nexpresso_spark.functions.sampling.apply_mix_weights`.

    Takes the ``(id, cluster_id)`` labeling from :func:`dedup_clusters`
    (so any pair finder plugs in) and returns one row per input row:
    ``(id_col, cluster_id, cluster_size, sample_weight)`` with
    ``sample_weight = round(1 / cluster_size, 9)`` — the rounding is
    part of the contract so weights are engine-reproducible.

    Scale shape: one aggregation of the narrow labeling on
    ``cluster_id`` (map-side partial count) and one id-sized equi-join
    to re-attach sizes — both exchanges carry two longs per document,
    never text. No window function: a per-cluster window would sort
    within clusters for the same answer the hash aggregation gives.
    """
    if id_col not in clusters.columns or "cluster_id" not in clusters.columns:
        raise ValueError(
            "duplication_weights expects the (id, cluster_id) labeling "
            f"from dedup_clusters; got columns {clusters.columns}"
        )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return clusters.join(sizes, on="cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("cluster_size"),
        F.round(F.lit(1.0) / F.col("cluster_size"), 9).alias("sample_weight"),
    )


def source_overlap(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    *,
    n: int = 13,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus SOURCES: for every source
    pair, the Jaccard of their distinct word-``n``-gram hash sets — the
    corpus-accounting view of inter-source duplication (two crawls of
    the same sites, a dataset repackaged under a new name, a benchmark
    leaked into a web dump all show up as high off-diagonal overlap;
    run it before mixing weights are chosen, cf. ``source_mix``).

    Scale shape: one explode to (source, shingle-hash) reduced DISTINCT
    per source (partial-agg shuffle); the intersection join is keyed on
    the 64-bit hash, and each hash fans out to at most
    ``C(n_sources, 2)`` pairs — sources are few, so the pair stage is
    linear in distinct shingles. Sizes re-attach by broadcast (a
    #sources-row table). Source pairs sharing NO shingle emit no row
    (documented — a dense matrix would be #sources^2 mostly-zero).

    The distinct (source, hash) table is cached: it feeds THREE consumers (per-source sizes
    and both intersection-join sides) whose per-side aliases break
    Catalyst's exchange reuse, so uncached the full corpus shingling
    runs three times (r14; the minhash_lsh_pairs buckets discipline —
    measured 2.6 → 1.7 s at sf0.1). The cache is O(distinct shingles)
    narrow rows (``MEMORY_AND_DISK``, spills), released via
    :func:`release_blocking_caches`.

    Returns ``(source_a, source_b, n_shared, jaccard)`` with
    ``source_a < source_b``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    sh = (
        docs.select(
            F.col(source_col).alias("__src"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("__s"),
        )
        .select("__src", F.xxhash64(F.col("__s")).alias("__h"))
        .distinct()
    )
    sh = persist_tracked(sh)
    sizes = sh.groupBy("__src").agg(F.count("*").alias("__sz"))
    a = sh.select(F.col("__src").alias("source_a"), "__h")
    b = sh.select(F.col("__src").alias("source_b"), "__h")
    inter = (
        a.join(b, on="__h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sz_a = sizes.select(
        F.col("__src").alias("source_a"), F.col("__sz").alias("__sza")
    )
    sz_b = sizes.select(
        F.col("__src").alias("source_b"), F.col("__sz").alias("__szb")
    )
    jac = F.col("n_shared") / (
        F.col("__sza") + F.col("__szb") - F.col("n_shared")
    )
    return (
        inter.join(F.broadcast(sz_a), on="source_a")
        .join(F.broadcast(sz_b), on="source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(jac, 6).alias("jaccard"),
        )
    )


def _ref_dedup_basis(canon: str):
    """Fingerprint basis for the reference-dedup pair: ``"exact"`` keys
    on the normalized text (case/whitespace variants merge);
    ``"robust"`` keys on
    :func:`~polars_nexpresso_spark.functions.text.robust_canonical_text`
    (digits collapsed, ASCII punctuation stripped) — the dial that
    makes "new crawl vs what we already have" catch RE-CRAWLS, whose
    timestamps and view counters changed while the content did not."""
    from polars_nexpresso_spark.functions.text import (
        normalize_text,
        robust_canonical_text,
    )

    if canon == "exact":
        return normalize_text
    if canon == "robust":
        return robust_canonical_text
    raise ValueError(f"canon must be 'exact' or 'robust': {canon!r}")


def dedup_against_reference(
    df: DataFrame,
    ref: DataFrame,
    text_col: str,
    *,
    canon: str = "exact",
) -> DataFrame:
    """Incremental-ingest dedup: drop rows of ``df`` whose normalized
    content already exists in a REFERENCE corpus — the "new crawl vs
    what we already have" step that runs before any within-batch dedup
    (the within-batch counterpart is :func:`exact_dedup`; the id-level
    recrawl delta is ``corpus_diff``). Matching is content-level: the
    same normalization as :func:`exact_dedup`'s fingerprint (lowercase,
    whitespace-collapsed), so case/spacing variants of an existing doc
    are recognized as already-present.

    NULL-text rows always survive (no content to match — pinned by
    keying the anti-join on a NULL fingerprint, which equals nothing).

    Scale shape: LEFT ANTI join on ``xxhash64`` of the normalized text
    — the reference reduces to one distinct 8-byte hash column (narrow
    partial-agg shuffle). When Catalyst knows the reference is small
    (e.g. it was read from storage), it broadcasts the fingerprint set:
    the anti-join is map-side and the new batch does not move. When the
    size is unknown, AQE switches to the same broadcast at runtime,
    after the new batch's shuffle stage; a large reference makes the new
    batch shuffle once, keyed by the hash. For streams use
    :func:`dedup_against_reference_stream`, which adds an explicit size
    guard and needs no join at all.

    Returns surviving ``df`` rows, schema unchanged.
    """
    if text_col not in df.columns or text_col not in ref.columns:
        raise ValueError(f"both frames need column {text_col!r}")
    basis = _ref_dedup_basis(canon)

    def fp(c):
        # NULL text -> NULL key (anti-join keeps it); non-null text ->
        # 8-byte content hash.
        return F.when(c.isNotNull(), F.xxhash64(basis(c)))

    ref_fps = (
        ref.select(fp(F.col(text_col)).alias("__fp"))
        .filter(F.col("__fp").isNotNull())
        .distinct()
    )
    return (
        df.withColumn("__fp", fp(F.col(text_col)))
        .join(ref_fps, on="__fp", how="left_anti")
        .drop("__fp")
    )


def dedup_against_reference_stream(
    df: DataFrame,
    ref: DataFrame,
    text_col: str,
    *,
    max_ref_fingerprints: int = 50_000_000,
    canon: str = "exact",
) -> DataFrame:
    """Stream-safe :func:`dedup_against_reference`: STATELESS, map-side.

    The reference's distinct content hashes are collected ONCE into a
    sorted dictionary (Arrow transfer, guarded by
    ``max_ref_fingerprints`` ≈ 8 bytes each) and each incoming row is
    probed by a vectorized binary search per Arrow batch — no join, no
    shuffle, no state, identical on a batch frame and an unbounded
    ``readStream``. The broadcast-dictionary pattern of
    ``decontaminate_stream`` / ``nb_quality_score_stream`` applied to
    whole-document fingerprints; same survivors as the batch paths.

    ``df`` may be batch or streaming; ``ref`` must be batch (it is
    collected). NULL-text rows always survive.
    """
    import numpy as np

    from polars_nexpresso_spark.functions._vectorized import (
        pandas_scalar_member,
    )

    if text_col not in df.columns or text_col not in ref.columns:
        raise ValueError(f"both frames need column {text_col!r}")
    basis = _ref_dedup_basis(canon)
    pdf = (
        ref.filter(F.col(text_col).isNotNull())
        .select(F.xxhash64(basis(F.col(text_col))).alias("__h"))
        .distinct()
        .toPandas()
    )
    if len(pdf) > max_ref_fingerprints:
        raise ValueError(
            f"reference has {len(pdf)} distinct fingerprints > "
            f"max_ref_fingerprints={max_ref_fingerprints}; use the "
            "batch dedup_against_reference() join path"
        )
    ref_sorted = np.sort(pdf["__h"].to_numpy(dtype=np.int64))
    # Non-null contract of pandas_scalar_member: NULL text coalesces to
    # a filler hash whose (astronomically unlikely) membership is
    # irrelevant — the isNull() branch keeps the row regardless.
    member = pandas_scalar_member(ref_sorted).asNondeterministic()
    probe_key = F.coalesce(
        F.when(
            F.col(text_col).isNotNull(),
            F.xxhash64(basis(F.col(text_col))),
        ),
        F.lit(0).cast("bigint"),
    )
    return df.filter(F.col(text_col).isNull() | ~member(probe_key))


class BloomDictionary:
    """A packed Bloom filter over normalized content fingerprints, with
    the geometry needed to probe it safely (mismatched geometry would
    silently probe the wrong bits — fail fast instead, the same
    contract as the sketch family's merge guards)."""

    __slots__ = ("bits", "num_bits", "num_hashes", "n_items")

    def __init__(self, bits, num_bits: int, num_hashes: int, n_items: int):
        self.bits = bits  # numpy int64 array, num_bits/64 words
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.n_items = n_items

    def false_positive_rate(self) -> float:
        """Theoretical FP probability at the observed fill."""
        import math

        k, m, n = self.num_hashes, self.num_bits, max(self.n_items, 1)
        return (1.0 - math.exp(-k * n / m)) ** k

    def to_bytes(self) -> bytes:
        import struct

        head = struct.pack("<qqq", self.num_bits, self.num_hashes,
                           self.n_items)
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomDictionary":
        import struct

        import numpy as np

        num_bits, num_hashes, n_items = struct.unpack_from("<qqq", raw)
        bits = np.frombuffer(raw[24:], dtype=np.int64).copy()
        return cls(bits, num_bits, num_hashes, n_items)

    def merged(self, other: "BloomDictionary") -> "BloomDictionary":
        """Union of two filters over the SAME geometry (bitwise OR) —
        how per-shard or per-day filters combine without rebuilding."""
        if (self.num_bits, self.num_hashes) != (
            other.num_bits, other.num_hashes,
        ):
            raise ValueError(
                "cannot merge Bloom filters with different geometry: "
                f"({self.num_bits}, {self.num_hashes}) vs "
                f"({other.num_bits}, {other.num_hashes})"
            )
        return BloomDictionary(
            self.bits | other.bits,
            self.num_bits,
            self.num_hashes,
            self.n_items + other.n_items,
        )


def _bloom_positions(c, num_bits: int, num_hashes: int):
    """k bit positions for one content fingerprint column, as an
    array<long> built JVM-side: independent-ish hashes come from
    seeding xxhash64 with the probe index (the standard double-hash
    family would also do; per-seed xxhash64 keeps everything one
    codegen'd expression)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), c), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def build_bloom_filter(
    ref: DataFrame,
    text_col: str,
    *,
    bits_per_item: int = 10,
    num_hashes: int = 7,
    num_bits: int | None = None,
) -> BloomDictionary:
    """ONE distributed pass over a reference corpus → a Bloom filter of
    its normalized content fingerprints, the cheapest rung of the
    incremental-dedup ladder: where :func:`dedup_against_reference_
    stream`'s exact dictionary costs 8 bytes per distinct doc (~8 GB at
    10^9 docs), the Bloom filter costs ``bits_per_item`` BITS (~1.2 GB
    at 10^9 docs, defaults) at a characterized false-positive rate
    (~0.8% at 10/7) — false positives mean a fresh doc is occasionally
    dropped as "seen", the trade every web-scale dedup (CCNet, Dolma)
    makes; there are NO false negatives, so every true duplicate is
    always caught.

    Scale shape: explode each doc's ``num_hashes`` bit positions
    map-side, partial-agg ``bit_or`` of shifted bits grouped by 64-bit
    WORD index — the shuffle and the driver transfer carry at most
    ``num_bits/64`` rows (non-zero words only), never the corpus.
    Filters over the same geometry union losslessly via :meth:`
    BloomDictionary.merged` (per-shard/per-day builds), and
    ``to_bytes``/``from_bytes`` persist them.

    Spark's own ``bloom_filter_agg`` is not SQL-registered (it is the
    optimizer-internal join-pruning aggregate), hence this explicit,
    version-stable construction.
    """
    from polars_nexpresso_spark.functions.text import normalize_text

    if text_col not in ref.columns:
        raise ValueError(f"column {text_col!r} not in DataFrame")
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    hashes = ref.filter(F.col(text_col).isNotNull()).select(
        fp.alias("__fph")
    )
    return bloom_from_hashes(
        hashes,
        "__fph",
        bits_per_item=bits_per_item,
        num_hashes=num_hashes,
        num_bits=num_bits,
    )


def bloom_from_hashes(
    hashes: DataFrame,
    hash_col: str,
    *,
    bits_per_item: int = 10,
    num_hashes: int = 7,
    num_bits: int | None = None,
) -> BloomDictionary:
    """Build a :class:`BloomDictionary` from an arbitrary long hash
    column — the shared kernel behind :func:`build_bloom_filter`
    (whole-document fingerprints) and :func:`decontaminate_bloom`
    (eval-set shingle hashes). See :func:`build_bloom_filter` for the
    scale shape; ``n_items`` here counts DISTINCT hashes, the quantity
    the FP formula needs."""
    import numpy as np

    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    # Persist the distinct hash set: the sizing count and the bitmap
    # build both read it, and without the cache the upstream plan —
    # e.g. build_bloom_filter's normalize+hash over the whole reference
    # corpus — would execute twice ("ONE distributed pass" for real).
    distinct = hashes.select(F.col(hash_col).alias("__h")).distinct()
    distinct = distinct.persist()
    try:
        n_items = distinct.count()
        if num_bits is None:
            num_bits = max(1024, int(bits_per_item * max(n_items, 1)))
        # round up to whole 64-bit words
        num_bits = ((num_bits + 63) // 64) * 64

        pos = distinct.select(
            F.explode(
                _bloom_positions(F.col("__h"), num_bits, num_hashes)
            ).alias("__p")
        )
        words = (
            # shiftleft's Python wrapper takes only a literal shift; the SQL
            # form shifts by a column.
            pos.selectExpr(
                "CAST(__p / 64 AS LONG) AS __w",
                "shiftleft(CAST(1 AS LONG), CAST(__p % 64 AS INT)) AS __bit",
            )
            .groupBy("__w")
            .agg(F.bit_or("__bit").alias("__bits"))
        )
        pdf = words.toPandas()
    finally:
        distinct.unpersist()
    bits = np.zeros(num_bits // 64, dtype=np.int64)
    if len(pdf):
        bits[pdf["__w"].to_numpy(dtype=np.int64)] = pdf["__bits"].to_numpy(
            dtype=np.int64
        )
    return BloomDictionary(bits, num_bits, num_hashes, n_items)


def dedup_against_bloom(
    df: DataFrame,
    text_col: str,
    bloom: BloomDictionary,
) -> DataFrame:
    """Drop rows whose normalized content is (probably) in the Bloom
    filter's reference corpus — the map-side, join-free, stream-safe
    probe for :func:`build_bloom_filter`. Every true duplicate is
    dropped (no false negatives); a fresh doc is wrongly dropped with
    probability ≈ :meth:`BloomDictionary.false_positive_rate`. NULL
    text always survives.

    The packed filter rides the Arrow-batched UDF closure
    (``num_bits/8`` bytes, one copy per executor); the k bit positions
    are computed JVM-side, so Python sees only ``array<long>`` rows.
    Batch or ``readStream`` alike — no join, no shuffle, no state.
    """
    if text_col not in df.columns:
        raise ValueError(f"column {text_col!r} not in DataFrame")
    from polars_nexpresso_spark.functions._vectorized import (
        pandas_bloom_member,
    )
    from polars_nexpresso_spark.functions.text import normalize_text

    probably_seen = pandas_bloom_member(bloom.bits)

    fp = F.xxhash64(normalize_text(F.col(text_col)))
    pos = F.when(
        F.col(text_col).isNotNull(),
        _bloom_positions(fp, bloom.num_bits, bloom.num_hashes),
    )
    # asNondeterministic: keep the (pure) probe above upstream
    # exchanges, the same plan pin as the other broadcast dictionaries.
    member = probably_seen.asNondeterministic()
    return df.filter(F.col(text_col).isNull() | ~member(pos))


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame | None,
    text_col: str,
    *,
    n: int = 13,
    bits_per_item: int = 40,
    num_hashes: int = 20,
    bloom: BloomDictionary | None = None,
) -> DataFrame:
    """N-gram decontamination through a Bloom filter of the eval set's
    shingles — the rung ABOVE :func:`decontaminate_stream` on the eval-
    size ladder: the exact sorted dictionary costs 8 bytes per distinct
    eval shingle (its ``max_eval_shingles`` cap defends the driver),
    while the filter costs ``bits_per_item`` BITS, so the same executor
    memory holds a ~10× larger benchmark suite. The price is a false-
    positive rate: a clean doc is dropped when all ``num_hashes`` bits
    of any of its shingles collide. A doc makes ~|tokens| probes, so
    size the filter against docs × shingles-per-doc — the generous
    default (40 bits/item, k=20 → p ≈ 8e-9) keeps the expected false
    drops below 1 per ~10^8 doc-shingles. No false negatives: every
    truly contaminated doc is always dropped.

    Map-side, join-free, stateless: each train doc's shingle hashes and
    their bit positions are computed JVM-side (one flattened
    ``array<long>`` per doc crosses Arrow), the packed filter rides
    the UDF closure, so the probe works identically on a batch frame
    and an unbounded ``readStream``. Same shingle rule as
    :func:`decontaminate` ``mode="ngram"``.

    Pass a prebuilt ``bloom`` (from an earlier call's eval set via
    :func:`bloom_from_hashes`, possibly :meth:`BloomDictionary.merged`
    across suites, or :meth:`~BloomDictionary.from_bytes` off storage)
    to skip the build and decontaminate many batches against one
    filter; ``eval_df`` may then be None.
    """
    from polars_nexpresso_spark.functions._vectorized import (
        pandas_bloom_any_member,
    )

    if text_col not in train.columns:
        raise ValueError(f"column {text_col!r} not in DataFrame")
    if bloom is None:
        if eval_df is None:
            raise ValueError("provide eval_df or a prebuilt bloom")
        shingle_hashes = eval_df.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("__sh")
        ).select(F.xxhash64(F.col("__sh")).alias("__h"))
        bloom = bloom_from_hashes(
            shingle_hashes,
            "__h",
            bits_per_item=bits_per_item,
            num_hashes=num_hashes,
        )
    contaminated = pandas_bloom_any_member(
        bloom.bits, bloom.num_hashes
    ).asNondeterministic()
    doc_positions = F.flatten(
        F.transform(
            word_ngrams(F.col(text_col), n),
            lambda s: _bloom_positions(
                F.xxhash64(s), bloom.num_bits, bloom.num_hashes
            ),
        )
    )
    return (
        train.withColumn("__doc_pos", doc_positions)
        .filter(~contaminated(F.col("__doc_pos")))
        .drop("__doc_pos")
    )


def _band_keys(num_hashes: int, bands: int):
    """Band bucket keys from a minhash signature row: one xxhash64 per
    band over (band index, the band's r signature components)."""
    r = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.col(f"mh_{b * r + j}") for j in range(r)]
            )
            for b in range(bands)
        ]
    )


def build_dedup_index(
    ref: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist a REUSABLE dedup index of a reference corpus, so repeated
    incremental ingests stop re-shingling the reference every run (the
    cost :func:`dedup_against_reference` pays on each call). Built once
    at reference-publish time; every later batch anti-joins against the
    stored tables with ZERO exchange on the index side.

    Two hash-bucketed tables (:func:`~polars_nexpresso_spark.sources
    .io.write_bucketed`; bucketed scans provide the join distribution
    themselves):

    - ``{table_name}_fp`` — ``(fp)``: distinct exact content
      fingerprints (xxhash64 of normalized text), bucketed by ``fp``.
      Drives the exact stage.
    - ``{table_name}_lsh`` — ``(bkey, ref_id, sig)``: one row per
      (reference doc × band) keyed by the band bucket hash, carrying
      the doc's FULL minhash signature, bucketed by ``bkey``. Drives
      the near-dup stage: candidates found by band equality, then
      similarity estimated from signature agreement — no reference
      text is stored or ever re-read.

    Index size: ``bands`` longs + one ``num_hashes``-long array per
    reference doc (~300 B/doc at the defaults) — orders of magnitude
    under the text it replaces. ``num_buckets`` should scale with the
    reference size (buckets are the join parallelism).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    from polars_nexpresso_spark.functions.text import normalize_text
    from polars_nexpresso_spark.sources.io import write_bucketed

    with_text = ref.filter(F.col(text_col).isNotNull())
    fps = with_text.select(
        F.xxhash64(normalize_text(F.col(text_col))).alias("fp")
    ).distinct()
    sigs = minhash_signatures(
        with_text, text_col, id_col, n=n, num_hashes=num_hashes
    )
    lsh = sigs.select(
        F.col("__id").alias("ref_id"),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        F.explode(_band_keys(num_hashes, bands)).alias("bkey"),
    )
    # The two index writes share no dependency (different tables, both
    # scan the reference): overlapped, the short _fp write back-fills
    # executors idled by the _lsh write's task tail instead of paying both
    # job tails in turn. A failing write cancels the other.
    overlap(
        ref.sparkSession,
        lambda: write_bucketed(
            fps, f"{table_name}_fp", ["fp"], num_buckets,
            path=f"{path}_fp" if path else None,
        ),
        lambda: write_bucketed(
            lsh, f"{table_name}_lsh", ["bkey"], num_buckets,
            path=f"{path}_lsh" if path else None,
        ),
    )
    # Geometry metadata: probes and appends read (n, num_hashes, bands)
    # from the index itself instead of trusting their callers — a
    # mismatched probe would silently find zero candidates (band keys
    # hash different signature components), the worst failure mode for a
    # dedup gate. r13 (guide §1.2 — fixed job overhead): stored as
    # TBLPROPERTIES on the _lsh table (a catalog-only ALTER, no Spark
    # job) instead of a third one-row saveAsTable write (~0.6 s of pure
    # DROP+write+commit overhead per build). Legacy ``_meta`` tables
    # remain readable via the fallback chain in
    # ``_resolve_index_geometry`` — and a REBUILD over a pre-r13 index
    # drops any stale ``_meta`` shadow (r14, ADVICE r13): if the
    # TBLPROPERTIES were ever lost, a leftover ``_meta`` with different
    # geometry would silently win the fallback.
    ref.sparkSession.sql(f"DROP TABLE IF EXISTS `{table_name}_meta`")
    _set_index_geometry(ref.sparkSession, table_name, n, num_hashes, bands)


_GEOM_PROPS = ("pns.dedup.n", "pns.dedup.num_hashes", "pns.dedup.bands")


def _set_index_geometry(
    spark, table_name: str, n: int, num_hashes: int, bands: int
) -> None:
    """Stamp the index geometry as TBLPROPERTIES of the ``_lsh`` table —
    a catalog-only operation (no Spark job), r13 replacement for the
    one-row ``_meta`` table write."""
    props = ", ".join(
        f"'{k}'='{int(v)}'"
        for k, v in zip(_GEOM_PROPS, (n, num_hashes, bands))
    )
    spark.sql(
        f"ALTER TABLE `{table_name}_lsh` SET TBLPROPERTIES ({props})"
    )


def _get_index_geometry_props(
    spark, table_name: str
) -> tuple[int, int, int] | None:
    """Geometry from the ``_lsh`` table's TBLPROPERTIES, or None for a
    legacy index (pre-r13 ``_meta`` table, or pre-meta)."""
    try:
        rows = spark.sql(
            f"SHOW TBLPROPERTIES `{table_name}_lsh`"
        ).collect()
    except Exception:  # noqa: BLE001 — no such table / no catalog
        return None
    d = {r["key"]: r["value"] for r in rows}
    try:
        return tuple(int(d[k]) for k in _GEOM_PROPS)  # type: ignore[return-value]
    except (KeyError, ValueError):
        return None


def _resolve_index_geometry(
    spark,
    table_name: str,
    n: int | None,
    num_hashes: int | None,
    bands: int | None,
) -> tuple[int, int, int]:
    """(n, num_hashes, bands) for a stored dedup index: read from the
    ``_lsh`` table's TBLPROPERTIES (r13), falling back to the legacy
    ``_meta`` table, and fail fast when an explicitly passed value
    disagrees; for a pre-meta index, fall back to the caller's values
    (old defaults) validated against the stored signature length."""
    if (
        num_hashes is not None
        and bands is not None
        and num_hashes % bands != 0
    ):
        raise ValueError("num_hashes must be divisible by bands")
    stored = _get_index_geometry_props(spark, table_name)
    if stored is None:
        try:
            row = spark.table(f"{table_name}_meta").first()
        except Exception:  # noqa: BLE001 — legacy index without metadata
            row = None
    else:
        row = None
    given = (n, num_hashes, bands)
    if row is not None:
        stored = (int(row["n"]), int(row["num_hashes"]), int(row["bands"]))
    if stored is not None:
        for name, g, s in zip(("n", "num_hashes", "bands"), given, stored):
            if g is not None and g != s:
                raise ValueError(
                    f"index {table_name!r} was built with {name}={s}, "
                    f"got {name}={g}"
                )
        return stored
    resolved = tuple(
        g if g is not None else d for g, d in zip(given, (3, 32, 8))
    )
    first = spark.table(f"{table_name}_lsh").select(
        F.size("sig").alias("__n")
    ).first()
    if first is not None and first["__n"] != resolved[1]:
        raise ValueError(
            f"index {table_name!r} was built with num_hashes="
            f"{first['__n']}, got num_hashes={resolved[1]}"
        )
    if resolved[1] % resolved[2] != 0:
        raise ValueError("num_hashes must be divisible by bands")
    return resolved  # type: ignore[return-value]


def extend_dedup_index(
    new_ref: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    *,
    n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> None:
    """APPEND a new reference batch into an existing
    :func:`build_dedup_index` — the daily-ingest maintenance path:
    after a batch passes :func:`dedup_against_index`, its survivors
    join the reference without rebuilding (a rebuild re-reads and
    re-shingles everything ingested so far; the append touches only
    the new batch). ``insertInto`` honours the tables' bucketing
    spec, so appended files land hash-bucketed like the originals and
    every later probe keeps its zero-exchange property.

    Fingerprints already present are anti-joined away first (one
    bucketed join against the new batch's — typically tiny —
    fingerprint set), keeping the fp table duplicate-free. The minhash
    geometry comes from the index's stored geometry (TBLPROPERTIES,
    legacy ``_meta`` fallback — leave the
    parameters unset); explicitly passed values that disagree with the
    stored geometry fail fast instead of silently appending rows keyed
    under a different banding scheme.

    The batch is SNAPSHOT internally (``localCheckpoint``) before any
    append: in the normal ``dedup_against_index`` → extend loop the
    batch's lazy plan PROBES this very index, and Spark recaches/
    re-evaluates table-dependent plans when the table is appended to —
    without the snapshot, the fp append would shrink the batch to
    empty before the LSH append even ran (its own rows are in the
    index by then). A ``persist()`` does NOT protect against this
    (the recache invalidates it); lineage truncation does. The
    snapshot costs one materialization of the (daily-increment-sized)
    batch.
    """
    from polars_nexpresso_spark.functions.text import normalize_text

    spark = new_ref.sparkSession
    n, num_hashes, bands = _resolve_index_geometry(
        spark, table_name, n, num_hashes, bands
    )
    new_ref = new_ref.localCheckpoint(eager=True)

    with_text = new_ref.filter(F.col(text_col).isNotNull())
    new_fps = (
        with_text.select(
            F.xxhash64(normalize_text(F.col(text_col))).alias("fp")
        )
        .distinct()
        .join(spark.table(f"{table_name}_fp"), on="fp", how="left_anti")
    )
    new_fps.write.mode("append").insertInto(f"{table_name}_fp")

    sigs = minhash_signatures(
        with_text, text_col, id_col, n=n, num_hashes=num_hashes
    )
    lsh = sigs.select(
        F.col("__id").alias("ref_id"),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        F.explode(_band_keys(num_hashes, bands)).alias("bkey"),
    )
    # insertInto is positional: match the stored column order.
    cols = spark.table(f"{table_name}_lsh").columns
    lsh.select(*cols).write.mode("append").insertInto(f"{table_name}_lsh")


def compact_dedup_index(
    spark,
    table_name: str,
    *,
    num_buckets: int | None = None,
    path: str | None = None,
) -> dict:
    """LSM compaction for a :func:`build_dedup_index` index: rewrite the
    small files that :func:`extend_dedup_index` accumulates (each daily
    append lands at least one file PER BUCKET per table, so a year of
    ingests turns every bucket-pruned probe scan into hundreds of file
    opens) back to one compact file set per table. Unlike
    :func:`~polars_nexpresso_spark.functions.retrieval
    .compact_text_index` there are no partial rows to fold — fp rows
    are kept distinct by the append's anti-join and LSH rows are final
    — so this is a pure file-layout rewrite; the fp table still gets a
    defensive ``distinct()`` so a crashed half-append can never leave
    duplicates behind. Probe DECISIONS are identical before and after
    by construction (same rows, same bucketing).

    ``num_buckets`` defaults to the BUILD-TIME bucket count read from
    the catalog PER TABLE (an ``_lsh`` table re-bucketed differently
    from ``_fp`` keeps both specs), so the rewrite preserves the
    bucketing and :func:`dedup_against_index` probes keep their
    zero-exchange property (plan-pinned in test_plan_shapes.py); pass
    it explicitly only to deliberately re-bucket (e.g. when the
    reference has grown past the original bucket parallelism). An index
    built with an external ``path`` must be compacted WITH a (new)
    ``path`` — omitting it fails fast rather than silently rewriting
    the tables as managed and stranding the external data files.

    Both tables are snapshotted with ``localCheckpoint`` BEFORE the old
    tables drop — overwriting a table a pending plan still reads would
    corrupt it (the :func:`extend_dedup_index` footgun). The snapshot
    materializes hash rows only (~300 B/doc), never reference text.
    Returns ``{"files_before", "files_after", "fp_rows", "lsh_rows"}``.
    """
    from polars_nexpresso_spark.sources.io import (
        catalog_is_external,
        catalog_num_buckets,
        write_bucketed,
    )

    if path is None:
        # Rewriting an external index (built with a path) without a new
        # path would re-create both tables as MANAGED warehouse tables
        # and strand the old external data files — fail fast instead.
        external = [
            t
            for t in (f"{table_name}_fp", f"{table_name}_lsh")
            if catalog_is_external(spark, t)
        ]
        if external:
            raise ValueError(
                f"{', '.join(external)} are EXTERNAL tables; compacting "
                "without `path` would rewrite them as managed warehouse "
                "tables and strand the external data files — pass a new "
                "compaction path"
            )
    # Bucket counts are read PER TABLE so an index whose _lsh table was
    # deliberately re-bucketed differently from _fp keeps both specs.
    nb_fp = num_buckets
    nb_lsh = num_buckets
    if num_buckets is None:
        nb_fp = catalog_num_buckets(spark, f"{table_name}_fp")
        nb_lsh = catalog_num_buckets(spark, f"{table_name}_lsh")
        if nb_fp is None or nb_lsh is None:
            missing = [
                t
                for t, nb in (
                    (f"{table_name}_fp", nb_fp),
                    (f"{table_name}_lsh", nb_lsh),
                )
                if nb is None
            ]
            raise ValueError(
                f"{', '.join(missing)} have no bucket spec in the "
                "catalog; pass num_buckets explicitly"
            )
    fp = spark.table(f"{table_name}_fp")
    lsh = spark.table(f"{table_name}_lsh")
    files_before = len(fp.inputFiles()) + len(lsh.inputFiles())
    # The r13 geometry TBLPROPERTIES live on the _lsh table and would be
    # lost by the DROP+rewrite — snapshot and restore them (legacy
    # _meta-table indexes are untouched by compaction, as before).
    geom = _get_index_geometry_props(spark, table_name)
    folded_fp = fp.distinct().localCheckpoint(eager=True)
    folded_lsh = lsh.localCheckpoint(eager=True)
    write_bucketed(
        folded_fp,
        f"{table_name}_fp",
        ["fp"],
        nb_fp,
        path=f"{path}_fp" if path else None,
    )
    write_bucketed(
        folded_lsh,
        f"{table_name}_lsh",
        ["bkey"],
        nb_lsh,
        path=f"{path}_lsh" if path else None,
    )
    if geom is not None:
        _set_index_geometry(spark, table_name, *geom)
    files_after = len(
        spark.table(f"{table_name}_fp").inputFiles()
    ) + len(spark.table(f"{table_name}_lsh").inputFiles())
    return {
        "files_before": int(files_before),
        "files_after": int(files_after),
        "fp_rows": int(folded_fp.count()),
        "lsh_rows": int(folded_lsh.count()),
    }


def dedup_against_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    *,
    threshold: float = 0.8,
    n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Incremental-ingest dedup of ``df`` against a persisted
    :func:`build_dedup_index` — exact stage first (anti-join on the
    stored content fingerprints), then a near-dup stage that drops any
    row whose ESTIMATED Jaccard against some reference doc reaches
    ``threshold``. Similarity is estimated as the fraction of agreeing
    minhash components (an unbiased estimator of Jaccard), so the
    reference corpus is never re-shingled — the whole probe touches
    only hashes. The minhash geometry comes from the index's stored geometry
    (TBLPROPERTIES, legacy ``_meta`` fallback — leave the parameters unset); explicit values that disagree
    fail fast — a silently mismatched probe would find zero candidates
    and keep every near-duplicate.

    Scale shape: the index tables are bucketed on their join keys, so
    their scans arrive pre-distributed — zero exchange on the index
    side (plan-pinned in test_plan_shapes.py); the batch shuffles once
    per stage (by fingerprint, then by band key) plus one id-keyed
    anti-join to apply the near-dup verdict. NULL-text rows always
    survive, as in :func:`dedup_against_reference`.

    Returns surviving ``df`` rows, schema unchanged.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    import math

    from polars_nexpresso_spark.functions.text import normalize_text

    spark = df.sparkSession
    n, num_hashes, bands = _resolve_index_geometry(
        spark, table_name, n, num_hashes, bands
    )
    fp_tbl = spark.table(f"{table_name}_fp").withColumnRenamed("fp", "__fp")
    lsh_tbl = spark.table(f"{table_name}_lsh")

    after_exact = (
        df.withColumn(
            "__fp",
            F.when(
                F.col(text_col).isNotNull(),
                F.xxhash64(normalize_text(F.col(text_col))),
            ),
        )
        .join(fp_tbl, on="__fp", how="left_anti")
        .drop("__fp")
    )

    sigs = minhash_signatures(
        after_exact, text_col, id_col, n=n, num_hashes=num_hashes
    )
    probe = sigs.select(
        F.col("__id"),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias(
            "__psig"
        ),
        F.explode(_band_keys(num_hashes, bands)).alias("bkey"),
    )
    min_agree = math.ceil(threshold * num_hashes - 1e-9)
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("__psig"), F.col("sig"), lambda a, b: a == b
            ),
            lambda x: x,
        )
    )
    near_hits = (
        probe.join(lsh_tbl, on="bkey")
        .filter(agree >= F.lit(min_agree))
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return after_exact.join(near_hits, on=id_col, how="left_anti")


def _stateless_sig_frame(
    df: DataFrame,
    text_col: str,
    *,
    n: int,
    num_hashes: int,
    bands: int,
    seed: int = 42,
) -> DataFrame:
    """Append ``__pns_sig`` (array<long> minhash signature) and
    ``__pns_bk`` (array<long> LSH band keys) to ``df`` as PURE
    PROJECTIONS — the same token-hash / shingle-polynomial / affine
    arithmetic as :func:`minhash_signatures` (parity test-pinned), with
    the explode + grouped-min replaced by one ``aggregate`` running-min
    over the shingle array, so it is stateless and stream-safe. Each
    stage lands in its own projection: the token-hash and shingle
    arrays are referenced ``n``/``num_hashes`` times downstream, and
    CollapseProject keeps multiply-referenced non-cheap aliases in
    separate projects, so they evaluate once per row."""
    r = num_hashes // bands
    th = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF)),
    )
    staged = df.withColumn("__pns_th", th)

    def window_hash(i):
        acc = F.get(F.col("__pns_th"), i) % F.lit(_SHINGLE_M)
        for j in range(1, n):
            acc = (
                acc * F.lit(_SHINGLE_B) + F.get(F.col("__pns_th"), i + j)
            ) % F.lit(_SHINGLE_M)
        return acc

    full_fold = F.aggregate(
        F.col("__pns_th"),
        F.lit(0).cast("long"),
        lambda a, x: (a * F.lit(_SHINGLE_B) + x) % F.lit(_SHINGLE_M),
    )
    shingles = F.when(
        F.size(F.col("__pns_th")) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("__pns_th")) - n),
            window_hash,
        ),
    ).otherwise(F.array(full_fold))
    staged = staged.withColumn("__pns_sh", shingles)

    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"),
                F.lit(b).cast("long").alias("b"),
            )
            for a, b in _affine_params(num_hashes, seed)
        ]
    )
    sig = F.aggregate(
        F.col("__pns_sh"),
        F.array(
            *[F.lit(_MINHASH_PRIME).cast("long") for _ in range(num_hashes)]
        ),
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda cur, p: F.least(
                cur, (h * p["a"] + p["b"]) % F.lit(_MINHASH_PRIME)
            ),
        ),
    )
    staged = staged.withColumn("__pns_sig", sig)
    bkeys_expr = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.get(F.col("__pns_sig"), b * r + j) for j in range(r)],
            )
            for b in range(bands)
        ]
    )
    return staged.withColumn("__pns_bk", bkeys_expr)


def dedup_against_index_stream(
    df: DataFrame,
    text_col: str,
    table_name: str,
    *,
    threshold: float = 0.8,
    max_index_rows: int = 2_000_000,
) -> DataFrame:
    """Stream-safe :func:`dedup_against_index`: STATELESS, map-side,
    join-free — the near-dup rung the ingest-stream ladder was missing
    (:func:`dedup_against_reference_stream` and the Bloom rung cover
    exact fingerprints only). Same survivors as the batch probe on the
    same index by construction: per-row decisions against a FIXED index
    are independent, so the batch's two anti-joins collapse to a
    conjunction of two map-side filters.

    The index is collected ONCE into broadcast closures (guarded by
    ``max_index_rows`` ≈ 8·(num_hashes+1) bytes per LSH row): the fp
    set probes via vectorized binary search
    (:func:`~polars_nexpresso_spark.functions._vectorized
    .pandas_scalar_member`), the LSH band table CSR-packs into a
    sorted-key + signature-matrix pair probed by
    :func:`~polars_nexpresso_spark.functions._vectorized
    .pandas_band_near_dup`. Indexes past the cap fail fast — run the
    batch probe per micro-batch via ``foreachBatch`` instead (the index
    side stays zero-exchange there).

    The document signature is computed as a PURE PROJECTION — the same
    token-hash / shingle-polynomial / affine-permutation arithmetic as
    :func:`minhash_signatures`, but with the explode + grouped-min
    replaced by one ``aggregate`` running-min over the shingle array
    (identical values: ``array_min`` over the same multiset), so it
    needs no shuffle and runs on an unbounded ``readStream``. Each
    stage lands in its own projection so the token-hash and signature
    arrays materialize once per row instead of re-evaluating per
    reference (CollapseProject keeps multiply-referenced non-cheap
    aliases separate).

    ``df`` may be batch or streaming. NULL-text rows always survive
    (their signature degenerates to the all-modulus init vector, which
    agrees with no stored signature; the explicit NULL guard makes the
    contract ANSI-independent). Returns surviving rows, schema
    unchanged.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if text_col not in df.columns:
        raise ValueError(f"column {text_col!r} must be in the DataFrame")
    import math

    import numpy as np

    from polars_nexpresso_spark.functions._vectorized import (
        pandas_band_near_dup,
        pandas_scalar_member,
    )
    from polars_nexpresso_spark.functions.text import normalize_text

    spark = df.sparkSession
    n, num_hashes, bands = _resolve_index_geometry(
        spark, table_name, None, None, None
    )

    lsh_count = spark.table(f"{table_name}_lsh").count()
    if lsh_count > max_index_rows:
        raise ValueError(
            f"index {table_name!r} holds {lsh_count} LSH rows > "
            f"max_index_rows={max_index_rows}; probe it with the batch "
            "dedup_against_index() inside foreachBatch instead"
        )
    fp_pdf = spark.table(f"{table_name}_fp").toPandas()
    fp_sorted = np.sort(fp_pdf["fp"].to_numpy(dtype=np.int64))
    lsh_pdf = spark.table(f"{table_name}_lsh").toPandas()
    if len(lsh_pdf):
        bkeys = lsh_pdf["bkey"].to_numpy(dtype=np.int64)
        order = np.argsort(bkeys, kind="stable")
        sig_matrix = np.stack(
            [np.asarray(s, dtype=np.int64) for s in lsh_pdf["sig"]]
        )[order]
        keys_unique, starts = np.unique(bkeys[order], return_index=True)
    else:
        sig_matrix = np.zeros((0, num_hashes), dtype=np.int64)
        keys_unique = starts = np.zeros(0, dtype=np.int64)
    min_agree = math.ceil(threshold * num_hashes - 1e-9)

    member = pandas_scalar_member(fp_sorted).asNondeterministic()
    near = pandas_band_near_dup(
        keys_unique, starts, sig_matrix, min_agree
    ).asNondeterministic()

    # ---- exact stage: map-side fingerprint membership -----------------
    # Non-null contract of pandas_scalar_member: NULL text coalesces to
    # a filler; the isNull() branch keeps the row regardless.
    probe_fp = F.coalesce(
        F.when(
            F.col(text_col).isNotNull(),
            F.xxhash64(normalize_text(F.col(text_col))),
        ),
        F.lit(0).cast("bigint"),
    )
    after_exact = df.filter(F.col(text_col).isNull() | ~member(probe_fp))

    # ---- near stage: stateless signature + band keys -------------------
    staged = _stateless_sig_frame(
        after_exact, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # The verdict lands in its own projected column first (ArrowEval
    # node), THEN a plain boolean filter: putting the UDF call directly
    # in the filter condition lets the optimizer inline the whole
    # signature HOF tree into the UDF's arguments, and UDF extraction
    # fails on that shape ("Cannot evaluate expression: near(...)").
    flagged = staged.withColumn(
        "__pns_near", near(F.col("__pns_bk"), F.col("__pns_sig"))
    )
    survivors = flagged.filter(
        F.col(text_col).isNull() | ~F.col("__pns_near")
    )
    return survivors.drop(
        "__pns_th", "__pns_sh", "__pns_sig", "__pns_bk", "__pns_near"
    )


def dedup_pair_recall(
    truth_pairs: DataFrame,
    candidate_pairs: DataFrame,
) -> DataFrame:
    """Pair-level recall/precision of a CANDIDATE near-dup pair set
    against a GROUND-TRUTH pair set — the dedup ladder's analog of
    ``ann_recall_table``: before trusting a cheap pair finder (SimHash,
    MinHash banding, embedding buckets) at 100 TB, measure it against
    exact n-gram Jaccard on a slice the exact method can still afford.
    A distributed DataFrame op, so the "slice" can itself be huge — no
    driver collect anywhere.

    Both inputs are ``(id_a, id_b, ...)`` pair tables from any finder;
    pairs are canonicalized to ``(least, greatest)`` and deduplicated on
    BOTH sides, so double-reported pairs cannot inflate either metric
    (the pitfall the ann_recall docstring advisory was about).

    Returns ONE row: ``(n_true, n_candidates, n_hits, pair_recall,
    pair_precision)`` — recall = hits/true, precision = hits/candidates,
    rounded to 9 decimals; an empty truth or candidate set yields NULL
    for the corresponding ratio rather than a division error.

    Scale shape: one pair-keyed full-outer equi-join of the two distinct
    pair sets (exchanges carry two longs per pair) and one final 1-row
    aggregation with map-side partials. Skewed ids do not skew the join:
    the key is the PAIR, which is unique per side after the distinct.
    """

    def canon(df: DataFrame, flag: str) -> DataFrame:
        if "id_a" not in df.columns or "id_b" not in df.columns:
            raise ValueError(
                f"pair tables need id_a/id_b columns; got {df.columns}"
            )
        return (
            df.select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    t = canon(truth_pairs, "__t")
    c = canon(candidate_pairs, "__c")
    j = t.join(c, on=["id_a", "id_b"], how="full_outer")
    counts = j.agg(
        F.sum("__t").alias("__nt"),
        F.sum("__c").alias("__nc"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1)
        ).alias("__nh"),
    )
    return counts.select(
        F.coalesce("__nt", F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce("__nc", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("__nh", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.try_divide(F.coalesce("__nh", F.lit(0)), F.col("__nt")), 9
        ).alias("pair_recall"),
        F.round(
            F.try_divide(F.coalesce("__nh", F.lit(0)), F.col("__nc")), 9
        ).alias("pair_precision"),
    )


def train_overlap_fractions(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 13,
) -> DataFrame:
    """Per-TRAIN-document contamination severity: what fraction of each
    training document's distinct word ``n``-grams appear anywhere in the
    evaluation set. The train-side mirror of :func:`contamination_report`
    (which scores eval docs), and the measurement behind
    :func:`decontaminate_by_fraction`'s thresholded rule.

    Returns one row per train row: ``(id_col, n_shingles, n_hits,
    overlap_frac)`` with ``overlap_frac = round(n_hits/n_shingles, 9)``;
    documents with no shingles (NULL/too-short text) get 0/0/NULL.

    Scale shape: the eval side reduces to its distinct shingle-hash set
    once; the train side's distinct ``(id, hash)`` pairs count hits via
    one hash-keyed LEFT SEMI join (AQE broadcasts small eval sets) and
    totals via one id-keyed aggregation — every exchange carries longs,
    text never leaves its scan.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")

    def shingle_hashes(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("__id"),
                F.explode(word_ngrams(F.col(text_col), n)).alias("__sh"),
            )
            .filter(F.col("__sh").isNotNull())
            .select("__id", F.xxhash64(F.col("__sh")).alias("__shingle"))
        )

    eval_shingles = shingle_hashes(eval_df).select("__shingle").distinct()
    tr = shingle_hashes(train)
    totals = tr.groupBy("__id").agg(F.count("*").alias("n_shingles"))
    hits = (
        tr.join(eval_shingles, on="__shingle", how="left_semi")
        .groupBy("__id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_doc = totals.join(hits, on="__id", how="left")
    return train.select(F.col(id_col)).join(
        per_doc.withColumnRenamed("__id", id_col), on=id_col, how="left"
    ).select(
        F.col(id_col),
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.try_divide(F.coalesce("n_hits", F.lit(0)), F.col("n_shingles")),
            9,
        ).alias("overlap_frac"),
    )


def decontaminate_by_fraction(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 13,
    max_frac: float = 0.1,
) -> DataFrame:
    """Fraction-thresholded decontamination: drop training documents
    whose share of distinct word ``n``-grams found in the eval set is
    ``>= max_frac`` — the doc-level overlap rule (PaLM/Llama-style)
    that tolerates incidental single-phrase collisions where
    :func:`decontaminate`'s any-hit rule (its ``max_frac → 0`` limit)
    would delete a long document over one quoted sentence. Documents
    with no shingles always survive (nothing measurable to overlap).

    Same exchanges as :func:`train_overlap_fractions` plus one id-keyed
    LEFT SEMI join to keep survivors; returns surviving train rows,
    schema unchanged.
    """
    if not 0.0 < max_frac <= 1.0:
        raise ValueError(f"max_frac must be in (0, 1]: {max_frac}")
    fr = train_overlap_fractions(train, eval_df, text_col, id_col, n=n)
    keep = fr.filter(
        F.col("overlap_frac").isNull() | (F.col("overlap_frac") < max_frac)
    ).select(F.col(id_col))
    return train.join(keep, on=id_col, how="left_semi")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Ordered document pairs where the SMALLER document's n-gram set is
    mostly contained in the other: ``|A∩B| / |A| >= threshold`` with A
    the smaller shingle set — the asymmetric overlap that catches
    quote-inclusion, page-within-crawl, and excerpt duplication, which
    symmetric Jaccard structurally MISSES: a 50-shingle doc fully inside
    a 5000-shingle doc has containment 1.0 but Jaccard ~0.01, invisible
    at any usable Jaccard threshold. The standard pairing in dedup
    ladders (Broder's containment; the "subset dedup" pass run after
    near-dup clustering).

    Returns ``(inner_id, outer_id, containment)`` — ``inner_id`` is the
    (weakly) smaller document, the one a keep-one policy would usually
    drop; size ties orient by id so every pair appears exactly once.

    Scale shape: identical to :func:`ngram_jaccard_pairs` (one explode
    to 64-bit hashes, shingle-keyed pair join bounded by
    ``max_shingle_df``, two size joins) — only the final arithmetic
    differs, dividing by ``min(|A|, |B|)`` instead of the union.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("__sh"),
    ).select("__id", F.xxhash64(F.col("__sh")).alias("__shingle"))
    if max_shingle_df is not None:
        hot = (
            exploded.groupBy("__shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("__shingle")
        )
        exploded = exploded.join(hot, on="__shingle", how="left_anti")
    sizes = exploded.groupBy("__id").agg(F.count("*").alias("__n_shingles"))
    left = exploded.select(
        F.col("__id").alias("id_a"), F.col("__shingle").alias("__s")
    )
    right = exploded.select(
        F.col("__id").alias("id_b"), F.col("__shingle").alias("__s")
    )
    pairs = (
        left.join(right, on="__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__shared"))
    )
    with_sizes = pairs.join(
        sizes.withColumnsRenamed({"__id": "id_a", "__n_shingles": "__na"}),
        on="id_a",
    ).join(
        sizes.withColumnsRenamed({"__id": "id_b", "__n_shingles": "__nb"}),
        on="id_b",
    )
    # Orient: inner = smaller shingle set (ties -> smaller id, which is
    # id_a by the pair filter above).
    a_is_inner = F.col("__na") <= F.col("__nb")
    cont = F.round(
        F.col("__shared") / F.least(F.col("__na"), F.col("__nb")), 6
    )
    return (
        with_sizes.select(
            F.when(a_is_inner, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("inner_id"),
            F.when(a_is_inner, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("outer_id"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
