"""BM25 ranked retrieval over a document corpus.

The keyword-search counterpart of the embedding top-k family in
``similarity.py``: score every document against a query string with the
Okapi BM25 formula and return the top-``k``. The classic use in a
training-data pipeline is targeted corpus inspection ("show me the
documents about X") and retrieval-based eval-set construction.

Scale shape (100 TB):
- the per-document term explode is FILTERED to the query's terms
  immediately (``isin`` on a literal list) — the shuffle that follows
  carries only (doc, query-term) hits, a tiny fraction of the corpus;
- document frequencies are aggregated over that filtered table (at most
  ``|query terms|`` rows survive) and broadcast back;
- corpus stats (N, avgdl) are one scalar aggregate attached via
  broadcast cross join — the same pattern as ``tfidf_keywords``'s
  document count;
- the final top-k is ``orderBy().limit(k)``, which Spark executes as
  TakeOrdered (per-partition heap + driver merge of k·partitions rows,
  no full sort shuffle).

Everything is expression-level (no Python UDFs); scores round to 6 dp so
the DuckDB oracle matches hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions._caching import overlap
from polars_nexpresso_spark.functions.text import tokens


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query`` under Okapi BM25.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Duplicate query terms count
    once (a bag-of-words query scores each distinct term once, the
    standard formulation).

    Returns ``(id, score)`` ordered by score descending, id ascending
    (deterministic tie-break), at most ``k`` rows.
    """
    q_terms = sorted(set(query.lower().split()))
    if not q_terms:
        raise ValueError("query has no terms")

    docs = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
    )
    # Per-doc length must come BEFORE the term filter (dl counts all
    # tokens, not just query-term hits).
    doc_len = docs.select("__id", F.size("__toks").alias("__dl"))
    stats = doc_len.agg(
        F.count("*").alias("__N"), F.avg("__dl").alias("__avgdl")
    )

    hits = (
        docs.select("__id", F.explode("__toks").alias("__t"))
        .filter(F.col("__t").isin(q_terms))
        .groupBy("__id", "__t")
        .agg(F.count("*").alias("__tf"))
    )
    dfreq = hits.groupBy("__t").agg(F.count("*").alias("__df"))

    scored = (
        hits.join(doc_len, on="__id")
        .join(F.broadcast(dfreq), on="__t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__N") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * F.lit(k1 + 1.0))
            / (
                F.col("__tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("__dl") / F.col("__avgdl")
                )
            ),
        )
    )
    return (
        scored.groupBy("__id")
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("__id").asc())
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def build_text_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    *,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist a REUSABLE BM25 index: repeated queries stop re-reading
    and re-tokenizing the corpus (the cost :func:`bm25_topk` pays per
    call — fine for one-off inspection, wrong for a query workload).

    Three tables, the classic inverted-index decomposition:

    - ``{table_name}_postings`` — ``(term, <id_col>, tf, dl)``: one row
      per (document, distinct term), with the document length
      DENORMALIZED onto every posting (Lucene's norm-in-posting trick)
      so query-time scoring needs no doc-length join. Hash-bucketed AND
      sorted by ``term``: an ``IN (query terms)`` filter prunes the
      scan to the buckets holding those terms
      (``SelectedBucketsCount`` — plan-pinned), so query cost scales
      with posting-list sizes, not corpus size.
    - ``{table_name}_terms`` — ``(term, df)``: document frequencies,
      same bucketing.
    - ``{table_name}_stats`` — ``(n_docs, n_text, sum_dl)``: row count,
      docs with a token array (NULL text tokenizes to NULL — the
      direct path's ``avg(dl)`` skips those while its idf ``N`` counts
      them, and the index reproduces both exactly), and total length.

    All three tables are APPEND-ONLY (the LSM idea): ``df`` and the
    corpus stats are stored as partial rows that the query side SUMS,
    so :func:`extend_text_index` ingests a new batch with pure
    inserts — no read-modify-write of any table, ever.

    Index size ~ one long + two ints per (doc, distinct term) — the
    tokenized corpus collapses to its postings once, at build time.
    """
    from polars_nexpresso_spark.sources.io import write_bucketed

    if text_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"columns {text_col!r}/{id_col!r} must be in the DataFrame"
        )
    docs = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # ONE tokenization pass feeds doc lengths and postings alike.
    docs = docs.persist()
    try:
        doc_len = docs.select(id_col, F.size("__toks").alias("dl"))
        postings = (
            docs.select(id_col, F.explode("__toks").alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count("*").alias("tf"))
            .join(doc_len, on=id_col)
            .select("term", id_col, "tf", "dl")
        )
        write_bucketed(
            postings,
            f"{table_name}_postings",
            ["term"],
            num_buckets,
            sort_cols=["term"],
            path=f"{path}_postings" if path else None,
        )
        spark = df.sparkSession
        terms = (
            spark.table(f"{table_name}_postings")
            .groupBy("term")
            .agg(F.count("*").alias("df"))
        )
        # n_docs counts EVERY row (bm25_topk's idf N does); sum_dl/n_text
        # cover only docs with a token array — tokens(NULL) is NULL, and
        # avg(dl) in the direct path skips NULLs, so the index must
        # reproduce that exact avgdl or NULL-text corpora diverge.
        stats = doc_len.agg(
            F.count("*").alias("n_docs"),
            F.count("dl").alias("n_text"),
            F.sum("dl").alias("sum_dl"),
        )
        # terms depends on the WRITTEN postings table, but the 1-row stats
        # write is independent of it: overlapped, the stats job back-fills
        # the terms job's tail instead of running after it. A failing
        # write cancels the other.
        overlap(
            spark,
            lambda: write_bucketed(
                terms, f"{table_name}_terms", ["term"], num_buckets,
                sort_cols=["term"],
                path=f"{path}_terms" if path else None,
            ),
            lambda: write_bucketed(
                stats, f"{table_name}_stats", ["n_docs"], 1,
                path=f"{path}_stats" if path else None,
            ),
        )
    finally:
        docs.unpersist()


def extend_text_index(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
) -> None:
    """APPEND a batch of NEW documents into a persisted
    :func:`build_text_index` — pure inserts into all three tables (the
    postings rows, per-term df PARTIALS, and one corpus-stats partial
    row), which ``insertInto`` lands bucketed like the originals; the
    query side sums the partials, so scores after an append equal a
    full rebuild's exactly. Contract: ``id_col`` values must be new —
    re-ingesting an existing document would double its postings
    (dedup the batch first, e.g. :func:`~polars_nexpresso_spark.
    functions.dedup.dedup_against_index`). The batch is SNAPSHOT
    internally (``localCheckpoint``, like ``extend_dedup_index``) so a
    probe-derived lazy plan cannot re-evaluate differently mid-append
    when an index it reads gets extended."""
    if text_col not in new_docs.columns or id_col not in new_docs.columns:
        raise ValueError(
            f"columns {text_col!r}/{id_col!r} must be in the DataFrame"
        )
    spark = new_docs.sparkSession
    stored = spark.table(f"{table_name}_postings").columns
    new_docs = new_docs.localCheckpoint(eager=True)
    docs = new_docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # ONE tokenization of the batch feeds all three appends (postings
    # also back the terms partials — no lineage recompute).
    docs = docs.persist()
    try:
        doc_len = docs.select(id_col, F.size("__toks").alias("dl"))
        postings = (
            docs.select(id_col, F.explode("__toks").alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count("*").alias("tf"))
            .join(doc_len, on=id_col)
            .select(*stored)
        ).persist()
        postings.write.mode("append").insertInto(f"{table_name}_postings")
        terms = postings.groupBy("term").agg(F.count("*").alias("df"))
        terms.write.mode("append").insertInto(f"{table_name}_terms")
        postings.unpersist()
        stats = doc_len.agg(
            F.count("*").alias("n_docs"),
            F.count("dl").alias("n_text"),
            F.sum("dl").alias("sum_dl"),
        )
        stats.write.mode("append").insertInto(f"{table_name}_stats")
    finally:
        docs.unpersist()


def bm25_against_index(
    spark,
    table_name: str,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query`` scored from a persisted
    :func:`build_text_index` — same Okapi BM25 formula and tie-break as
    :func:`bm25_topk`, but the corpus is never touched: the postings
    scan bucket-prunes to the query's terms, document frequencies and
    corpus stats attach by broadcast, and the only shuffle carries the
    matching postings into the per-document sum. Query cost is the
    query terms' posting lists, independent of corpus size.
    """
    q_terms = sorted(set(query.lower().split()))
    if not q_terms:
        raise ValueError("query has no terms")
    postings = spark.table(f"{table_name}_postings")
    id_col = [c for c in postings.columns if c not in ("term", "tf", "dl")]
    if len(id_col) != 1:
        raise ValueError(
            f"{table_name}_postings has unexpected schema: "
            f"{postings.columns}"
        )
    (id_col,) = id_col
    hits = postings.filter(F.col("term").isin(q_terms))
    # df and corpus stats are stored as APPEND-ONLY partial rows (one
    # per build/extend batch) — sum them here; the filter still
    # bucket-prunes the terms scan before the tiny aggregate.
    dfreq = (
        spark.table(f"{table_name}_terms")
        .filter(F.col("term").isin(q_terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    # avgdl over docs that HAVE a token array (n_text) — bm25_topk's
    # avg(dl) skips NULL-text docs while its idf N counts all rows;
    # the index must reproduce both or NULL-text corpora diverge.
    stats = spark.table(f"{table_name}_stats").agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_text")).alias("avgdl"),
    )
    scored = (
        hits.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_route_stream(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    queries: list[tuple[str, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    min_score: float | None = None,
) -> DataFrame:
    """Standing-query ROUTING: score incoming documents (batch or
    ``readStream`` — the plan is a stateless projection) against a
    fixed query set under the BM25 model of a persisted
    :func:`build_text_index` — the alerting/triage shape: queries are
    calibrated once against a reference collection, then every new
    document is scored map-side as it arrives. Collection statistics
    (``N``, ``avgdl``, per-term ``df``) come from the INDEX SNAPSHOT —
    the frozen model — while ``tf``/``dl`` come from the incoming
    document, the standard incremental-retrieval split (a new doc must
    not change the model mid-stream).

    The driver transfer is bounded by the QUERY vocabulary: the terms
    table is bucket-pruned to the union of query terms (partials
    summed), plus one stats row — never the corpus. Scoring is a pure
    expression per (query, term): ``tf`` via an array filter on the
    tokenized doc, the same Lucene idf / length normalization as
    :func:`bm25_topk`, rounded to 6.

    Returns ``(id_col, query_id, score)`` for documents scoring > 0
    (no shared term → no route; NULL text never routes), filtered to
    ``min_score`` when given.
    """
    if text_col not in docs.columns or id_col not in docs.columns:
        raise ValueError(
            f"columns {text_col!r}/{id_col!r} must be in the DataFrame"
        )
    if not queries:
        raise ValueError("queries must be a non-empty list of (id, text)")
    parsed: list[tuple[str, list[str]]] = []
    for qid, qtext in queries:
        terms = sorted(set(str(qtext).lower().split()))
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
        parsed.append((str(qid), terms))
    all_terms = sorted({t for _, ts in parsed for t in ts})

    spark = docs.sparkSession
    # Bucket-pruned df lookup (partials summed — the append-only
    # contract) + the summed stats row: both driver transfers are
    # query-vocabulary-sized.
    dfreq = {
        r["term"]: int(r["df"])
        for r in spark.table(f"{table_name}_terms")
        .filter(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    st = (
        spark.table(f"{table_name}_stats")
        .agg(
            F.sum("n_docs").alias("n"),
            F.sum("n_text").alias("nt"),
            F.sum("sum_dl").alias("s"),
        )
        .collect()[0]
    )
    n_docs, avgdl = int(st["n"]), float(st["s"]) / max(int(st["nt"]), 1)

    # NULL text must never route regardless of ANSI mode: under non-ANSI
    # defaults (Spark 3.5) size(NULL) = -1, so an un-coalesced NULL token
    # array would give tf = dl = -1 and a garbage positive score.
    # Coalescing to an empty array makes tf = dl = 0 → score 0 → filtered.
    toks = F.coalesce(
        tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    dl = F.size(toks).cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    import math

    def idf(term: str) -> float:
        df_t = dfreq.get(term, 0)
        return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))

    def _tf(term: str):
        lit = F.lit(term)
        # single-positional-arg lambda: PySpark arity-sniffs higher-order
        # function lambdas, so the term binds via closure, not a default
        return F.size(F.filter(toks, lambda x: x == lit)).cast("double")

    routed = []
    for qid, terms in parsed:
        score = None
        for t in terms:
            tf = _tf(t)
            s = F.lit(idf(t)) * (tf * F.lit(k1 + 1.0)) / (tf + norm)
            score = s if score is None else score + s
        routed.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                F.round(score, 6).alias("score"),
            )
        )
    out = docs.select(
        F.col(id_col),
        F.explode(F.array(*routed)).alias("__r"),
    ).select(id_col, "__r.query_id", "__r.score")
    floor = 0.0 if min_score is None else float(min_score)
    return out.filter(F.col("score") > floor)


def compact_text_index(
    spark,
    table_name: str,
    *,
    num_buckets: int | None = None,
    path: str | None = None,
) -> dict:
    """LSM compaction for a :func:`build_text_index` index: fold the
    append-only PARTIAL rows that :func:`extend_text_index` accumulates
    (one df row per term per ingest batch, one stats row per batch)
    back to one row per term and one stats row. Scores are identical
    before and after by construction — the query side SUMS partials, so
    compaction only moves that sum from query time to maintenance time;
    run it when the daily-ingest loop has stacked enough batches that
    the terms-table scan (still bucket-pruned) starts costing.

    Postings need no compaction: each posting row is final, never a
    partial. The rewrite preserves the bucketing spec — ``num_buckets``
    defaults to the BUILD-TIME bucket count read from the catalog
    (``DESCRIBE FORMATTED``), so compacting an index built with any
    bucket count keeps the terms table's bucketing and the bucket-pruned
    query scans keep their zero-exchange property; pass it explicitly
    only to deliberately re-bucket.

    The aggregated tables are snapshotted with ``localCheckpoint``
    BEFORE the old tables drop — the same lazy-read footgun
    :func:`extend_dedup_index` pins: overwriting a table a pending plan
    still reads would silently corrupt it. Returns
    ``{"term_rows_before", "term_rows_after", "stats_rows_before"}``.
    """
    from polars_nexpresso_spark.sources.io import (
        catalog_is_external,
        catalog_num_buckets,
        write_bucketed,
    )

    if path is None:
        # Same guard as compact_dedup_index: compacting an external
        # index without a new path would rewrite the tables as managed
        # and strand the external data files.
        external = [
            t
            for t in (f"{table_name}_terms", f"{table_name}_stats")
            if catalog_is_external(spark, t)
        ]
        if external:
            raise ValueError(
                f"{', '.join(external)} are EXTERNAL tables; compacting "
                "without `path` would rewrite them as managed warehouse "
                "tables and strand the external data files — pass a new "
                "compaction path"
            )
    if num_buckets is None:
        num_buckets = catalog_num_buckets(spark, f"{table_name}_terms")
        if num_buckets is None:
            raise ValueError(
                f"{table_name}_terms has no bucket spec in the catalog; "
                "pass num_buckets explicitly"
            )
    terms = spark.table(f"{table_name}_terms")
    stats = spark.table(f"{table_name}_stats")
    n_terms_before = terms.count()
    n_stats_before = stats.count()
    folded_terms = (
        terms.groupBy("term").agg(F.sum("df").alias("df"))
    ).localCheckpoint(eager=True)
    folded_stats = stats.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_text").alias("n_text"),
        F.sum("sum_dl").alias("sum_dl"),
    ).localCheckpoint(eager=True)
    write_bucketed(
        folded_terms,
        f"{table_name}_terms",
        ["term"],
        num_buckets,
        sort_cols=["term"],
        path=f"{path}_terms" if path else None,
    )
    write_bucketed(
        folded_stats,
        f"{table_name}_stats",
        ["n_docs"],
        1,
        path=f"{path}_stats" if path else None,
    )
    return {
        "term_rows_before": int(n_terms_before),
        "term_rows_after": int(folded_terms.count()),
        "stats_rows_before": int(n_stats_before),
    }


def cross_encoder_rerank(
    pairs: DataFrame,
    texts: DataFrame,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    text_id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    scorer: str = "lexical",
) -> DataFrame:
    """Cross-encoder-STYLE second-stage rerank: score each retrieved
    (query, candidate) pair JOINTLY and keep the top-``k`` per query —
    the cascade stage after any first-stage retriever (BM25, n-gram
    Jaccard, ANN), where bi-encoder/lexical shortlists get re-ordered
    by a pairwise scorer that sees both texts at once.

    ``scorer="lexical"`` (default) is the deterministic stand-in this
    container can run: distinct-token-hash Jaccard between the two
    texts, computed by the Arrow-batched kernel
    ``pandas_pair_jaccard``. The PLUMBING is the real deliverable and
    is identical for a neural cross-encoder: pairs join their two
    texts (token-hash arrays staged JVM-side, one tokenization per
    text row), the scorer consumes Arrow batches of paired columns,
    and a bounded per-query window ranks the scores — swap the kernel
    body for a model forward pass and nothing else changes.
    ``scorer="model"`` names that backend and raises
    ``NotImplementedError`` here (no inference runtime in this
    container — the same documented stub policy as the multimodal
    decoders, multimodal.py).

    Scale shape: candidates are bounded (k_retrieve per query) by the
    first stage; the two text joins are plain equi-joins on the id
    (broadcast when texts is a dim-sized side); scoring is map-side;
    the final window partitions by query over ≤k_retrieve rows. No
    all-pairs path — the first-stage retriever owns candidate
    generation.

    Returns ``(query_col, doc_col, ce_score, rank)``; ties rank by
    ``doc_col`` for cross-engine determinism; both-empty token sets
    score 0.0, a NULL text scores NULL (kept, ranked last — the
    oracle mirrors with NULLS LAST).

    EAGER-EXECUTION contract (r13 pin, documented r14 per ADVICE):
    merely CONSTRUCTING the returned frame runs Spark jobs — the
    bounded candidate set is pinned with ``localCheckpoint(eager=True)``
    during the call, which executes the upstream retriever and holds
    non-fault-tolerant executor-local blocks (a lost executor fails the
    job instead of recomputing). Plan-only and streaming callers should
    account for both.
    """
    if scorer == "model":
        raise NotImplementedError(
            "cross_encoder_rerank(scorer='model'): no inference runtime "
            "in this environment; the lexical kernel exercises the same "
            "pair-join/Arrow-batch/window plumbing (stub policy, see "
            "multimodal.py)"
        )
    if scorer != "lexical":
        raise ValueError(f"unknown scorer: {scorer!r}")
    for col, frame, name in (
        (query_col, pairs, "pairs"),
        (doc_col, pairs, "pairs"),
        (text_id_col, texts, "texts"),
        (text_col, texts, "texts"),
    ):
        if col not in frame.columns:
            raise ValueError(f"column {col!r} not in {name}: {frame.columns}")
    from pyspark.sql import Window

    from polars_nexpresso_spark.functions._vectorized import (
        pandas_pair_jaccard,
    )
    from polars_nexpresso_spark.functions.text import token_hash60

    # r13 (guide §2.3/§2.4): the candidate set is k-bounded per query by
    # the first-stage contract, so pin it once with localCheckpoint —
    # without this the retriever subtree would execute again for the id
    # projection below, and at 100 TB the two tok_sets joins would each
    # re-tokenize the FULL text table. With the pin, tokenization runs
    # only on texts that actually appear in a candidate pair (left-semi
    # prefilter), once, and is itself pinned before being joined twice
    # (query side + doc side).
    cand = pairs.select(query_col, doc_col).localCheckpoint(eager=True)
    pair_ids = (
        cand.select(F.col(query_col).alias("__pns_ce_id"))
        .union(cand.select(F.col(doc_col).alias("__pns_ce_id")))
        .distinct()
    )
    needed = texts.join(
        pair_ids,
        F.col(text_id_col) == F.col("__pns_ce_id"),
        "left_semi",
    )
    # One tokenization per TEXT row (not per pair): distinct token
    # hashes, sorted so the kernel's merge-intersection is O(n).
    # Deliberately NOT pinned: tok_sets derives from the pinned `cand`
    # plus a semi-joined text scan, so both join branches below
    # re-tokenize only the BOUNDED candidate texts — cheap at any
    # scale, and one fewer sequential job than a second checkpoint
    # (the interleaved A/B showed the extra job costs more locally
    # than the bounded recompute it saves).
    tok_sets = needed.select(
        F.col(text_id_col).alias("__tid"),
        F.array_sort(
            F.array_distinct(
                F.transform(tokens(F.col(text_col)), token_hash60)
            )
        ).alias("__ths"),
    )
    scored = (
        cand
        .join(
            tok_sets.select(
                F.col("__tid").alias(query_col),
                F.col("__ths").alias("__qh"),
            ),
            on=query_col,
        )
        .join(
            tok_sets.select(
                F.col("__tid").alias(doc_col), F.col("__ths").alias("__dh")
            ),
            on=doc_col,
        )
        .withColumn(
            "ce_score", pandas_pair_jaccard(F.col("__qh"), F.col("__dh"))
        )
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("ce_score").desc_nulls_last(), F.col(doc_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, doc_col, "ce_score", "rank")
    )


def distillation_pairs(
    scored: DataFrame,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str = "ce_score",
    n_negatives: int = 4,
) -> DataFrame:
    """Turn a per-query scored candidate ranking into the standard
    cross-encoder-distillation TRIPLET table: per query, the top-scored
    candidate becomes the positive and the ``n_negatives``
    hardest negatives (smallest teacher margin — the pairs that teach a
    bi-encoder student the most, per Margin-MSE distillation) each emit
    ``(query, pos_id, neg_id, margin)`` with
    ``margin = pos_score - neg_score``.

    ``scored`` is any ``(query_col, doc_col, score_col)`` frame —
    normally :func:`cross_encoder_rerank`'s output with ``k`` = the
    full shortlist, so the teacher sees every retrieved candidate.
    Deterministic: ties in the positive election break to the lowest
    doc id, ties in hardness to the lowest neg id; NULL-scored
    candidates (no text) rank below every scored candidate, so one can
    become the positive only when a query has NO scored candidate at
    all — that degenerate query then emits all-NULL margins (the
    oracle's NULLS LAST windows behave identically).

    Scale shape: two bounded per-query windows + one per-query
    self-join whose sides are both <= k_retrieve rows — everything
    downstream of candidate generation stays k-bounded per query, the
    distillation table is ``n_queries x n_negatives`` rows.

    EAGER-EXECUTION contract (r13 pin, documented r14 per ADVICE):
    constructing the returned frame executes the whole upstream scorer
    once (the ranked candidate pin is an eager ``localCheckpoint`` of
    executor-local, non-fault-tolerant blocks) — see
    :func:`cross_encoder_rerank` for the same caveat.

    Returns ``(query_col, pos_id, neg_id, margin, neg_rank)``.
    """
    from pyspark.sql import Window

    w_pos = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(doc_col).asc()
    )
    # r13 (guide §2.4): the positive election and the negative set below
    # both read `ranked`; without materialization the entire upstream
    # scorer (e.g. the CE rerank cascade, itself fed by a retriever)
    # executes TWICE — once per join branch. The ranking is k-bounded
    # per query by the first-stage contract, so one localCheckpoint pins
    # it: compute once, and truncate the upstream plan out of both
    # branches of the self-join.
    ranked = (
        scored.select(query_col, doc_col, score_col)
        .withColumn("__r", F.row_number().over(w_pos))
        .localCheckpoint(eager=True)
    )
    pos = ranked.filter(F.col("__r") == 1).select(
        query_col,
        F.col(doc_col).alias("pos_id"),
        F.col(score_col).alias("__pos_score"),
    )
    negs = ranked.filter(F.col("__r") > 1).select(
        query_col,
        F.col(doc_col).alias("neg_id"),
        F.col(score_col).alias("__neg_score"),
    )
    pairs = pos.join(negs, on=query_col).withColumn(
        "margin", F.round(F.col("__pos_score") - F.col("__neg_score"), 6)
    )
    w_hard = Window.partitionBy(query_col).orderBy(
        F.col("margin").asc_nulls_last(), F.col("neg_id").asc()
    )
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w_hard))
        .filter(F.col("neg_rank") <= n_negatives)
        .select(query_col, "pos_id", "neg_id", "margin", "neg_rank")
    )
