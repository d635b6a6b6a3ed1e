"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — exact brute-force top-k: the baseline. The query
  set rides the closure of an Arrow-batched NumPy kernel, one kernel
  stage per ``_MAX_QUERIES`` queries; each corpus batch scores every
  query of a block in one matmul and keeps its own top-k per query, and
  a window over (query, score) picks the global top-k. The corpus never
  shuffles — only the per-query candidate rows move.
- The SQL scorers (LSH, IVF, re-rank, pair and list metrics) all take
  their cosine from :func:`_cosine` and their top-k from
  :func:`_topk_window`.
- :func:`lsh_ann_topk` — random-hyperplane LSH: deterministic pseudo-random
  hyperplanes (seeded, md5-derived), bucket on the sign bit-vector, search
  only within buckets up to Hamming distance ``multiprobe`` from the
  query's. Scale path: the bucket join replaces the cross join, turning
  O(|corpus|·|q|) into O(probed bucket volume · |q|).
- :func:`ivf_ann_topk` — inverted-file cells around sampled-k-means
  centroids; each query probes its ``n_probe`` nearest cells.

The approximate search operators (LSH, IVF, PQ, IVF-PQ) build their
corpus side once per corpus version and keep it persisted as a search
index (:func:`_search_index`); every later query batch joins against it.
"""

from __future__ import annotations

import hashlib
import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polars_nexpresso_spark.functions._caching import (
    _INDEX_MEMO,
    _memo_evict,
    _memo_get,
    _memo_put,
    persist_tracked,
)
from polars_nexpresso_spark.plans.stats import plan_size_bytes


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def _safe(norm):
    """``norm`` with 0 clamped to 1.0, so a zero vector has cosine 0 with
    everything instead of dividing by zero (under ANSI mode, Spark 4's
    default, a division by 0.0 raises). Other norms pass through
    unchanged."""
    return F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)


def _cosine(a: str, b: str, na: str, nb: str):
    """The SQL cosine score of the vector columns ``a``/``b`` with their
    :func:`_norm` columns ``na``/``nb``: ``round(<a, b> / (|a|·|b|), 6)``.
    The norms clamp here, at score time (:func:`_safe`), so the persisted
    search indexes keep their plain norms."""
    a, b, na, nb = (F.col(c) for c in (a, b, na, nb))
    return F.round(_dot(a, b) / (_safe(na) * _safe(nb)), 6)


# Most query vectors one kernel stage holds in its closure. A larger
# query set runs as one stage per block of this many queries, and their
# candidates union before the one top-k window.
_MAX_QUERIES = 10_000


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    The query set is collected when the frame is built and rides the
    closure of an Arrow-batched NumPy kernel over the corpus
    (:func:`_cosine_kernel`), one kernel stage per ``_MAX_QUERIES``
    queries. The corpus never shuffles; the one exchange carries ≤ k rows
    per (query, corpus batch).

    Returns ``(query_id, neighbor_id, cosine, rank)`` with a deterministic
    (cosine desc, neighbor_id asc) tie-break; both id columns keep the
    input id type. Rows with a null id or vector are skipped on both
    sides, and a zero vector has cosine 0 with everything.
    """
    q = queries.select(F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv"))
    return _cosine_kernel(corpus, q, id_col, vec_col, k, exclude_self)


def _cosine_kernel(
    corpus: DataFrame,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Exact cosine top-k of the query frame ``q`` — ``(__qid, __qv)``,
    optionally with ``__excl``, an array of ids that query must not
    return — against ``corpus``.

    ``q`` is collected and cut into blocks of at most ``_MAX_QUERIES``
    rows; each block scans the corpus in one ``mapInPandas`` stage
    (:func:`_block_kernel`) that emits its own per-batch top-k per query.
    The window over the union of the blocks' candidates then picks the
    global top-k, which is exact.
    """
    from functools import reduce

    from pyspark.sql.types import DoubleType, StructField, StructType

    rows = q.where(F.col("__qid").isNotNull() & F.col("__qv").isNotNull()).collect()
    c = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).where(F.col("__id").isNotNull() & F.col("__v").isNotNull())
    schema = StructType(
        [
            StructField("query_id", q.schema["__qid"].dataType),
            StructField("neighbor_id", c.schema["__id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    blocks = [
        rows[i : i + _MAX_QUERIES] for i in range(0, len(rows), _MAX_QUERIES)
    ]
    candidates = reduce(
        DataFrame.union,
        [
            c.mapInPandas(_block_kernel(b, exclude_self, k), schema=schema)
            for b in blocks or [[]]
        ],
    )
    return _topk_window(candidates, k, "cosine")


def _block_kernel(rows: list, exclude_self: bool, k: int):
    """The ``mapInPandas`` function of one query block: ``rows`` become
    unit float64 query rows, and each corpus Arrow batch scores all of
    them in one BLAS matmul (in chunks of at most 2²² scores),
    rounds to 6 decimals and keeps its own top-k per query by (cosine
    desc, id asc), ranking ids of any orderable type through their
    order-preserving codes in the batch. The returned function references
    no package-level name, so executors need not import the package."""
    import numpy as np

    q_ids = np.asarray([r["__qid"] for r in rows])
    qm = np.array([r["__qv"] for r in rows], dtype=np.float64)
    qm = _unit_rows(qm) if rows else qm
    # (query index, id) pairs to skip: the query itself and its __excl ids.
    ex_q, ex_id = [], []
    for j, r in enumerate(rows):
        drop = list(r.asDict().get("__excl") or [])
        drop += [r["__qid"]] if exclude_self else []
        ex_q += [j] * len(drop)
        ex_id += drop

    def kernel(batches):
        import pandas as pd

        excluded = pd.DataFrame({"id": ex_id, "q": ex_q})
        for pdf in batches:
            n = len(pdf)
            if not n or not q_ids.size:
                continue
            ids = pdf["__id"].to_numpy()
            codes = np.unique(ids, return_inverse=True)[1]
            cm = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(cm, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0
            unit = cm / cn
            hit_row = hit_q = np.empty(0, dtype=np.int64)
            if ex_q:
                hit = pd.DataFrame({"id": ids, "row": np.arange(n)}).merge(
                    excluded, on="id"
                )
                hit_row, hit_q = hit["row"].to_numpy(), hit["q"].to_numpy()
            step = max(1, (1 << 22) // n)
            for q0 in range(0, q_ids.size, step):
                # (batch, block) scores; + 0.0 turns -0.0 into 0.0.
                s = np.round(unit @ qm[q0 : q0 + step].T, 6) + 0.0
                in_block = (hit_q >= q0) & (hit_q < q0 + step)
                s[hit_row[in_block], hit_q[in_block] - q0] = -np.inf
                keep = s > -np.inf  # also drops NaN scores
                if n > k >= 1:
                    kth = np.partition(s, n - k, axis=0)[n - k]
                    keep &= ~(s < kth)  # every tie of the k-th score stays
                qi, ri = np.nonzero(keep.T)
                order = np.lexsort((codes[ri], -s[ri, qi], qi))
                qi, ri = qi[order], ri[order]
                top = np.arange(qi.size) - np.searchsorted(qi, qi) < k
                qi, ri = qi[top], ri[top]
                yield pd.DataFrame(
                    {
                        "query_id": q_ids[q0 + qi],
                        "neighbor_id": ids[ri],
                        "cosine": s[ri, qi],
                    }
                )

    return kernel


def _hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes from md5 bits.

    Box-Muller over md5-derived uniforms — reproducible across runs and
    machines with no RNG state.
    """
    planes: list[list[float]] = []
    for p in range(num_planes):
        vals: list[float] = []
        for d in range(0, dim, 2):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            u1 = (int(h[:8], 16) + 1) / (2**32 + 2)
            u2 = (int(h[8:16], 16) + 1) / (2**32 + 2)
            r = math.sqrt(-2.0 * math.log(u1))
            vals.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                vals.append(r * math.sin(2 * math.pi * u2))
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals[:dim]])
    return planes


def _lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """One parsed SQL expression for the sign bit-vector bucket id of
    the vector column ``vec_sql`` under ``planes``: bit ``i`` is set when
    the ``_sql_dot`` fold against plane ``i`` is >= 0, summed left to
    right as ``1 << i`` terms (a NULL vector lands in bucket 0). One
    string per call site instead of num_planes × dim ``F.lit`` py4j
    round trips."""
    dot = _sql_dot(
        vec_sql, f"element_at({_json_arr2(planes)}, i + 1)"
    )
    return (
        f"aggregate(sequence(0, {len(planes) - 1}), 0, "
        f"(acc, i) -> acc + IF({dot} >= 0, shiftleft(1, i), 0))"
    )


def _sample_key_expr(id_col, seed: int = 42):
    """Deterministic pseudo-random 60-bit sort key from an id column: the
    same md5 arithmetic as ``sampling.hash_bucket`` (without the modulo),
    replicable bit-for-bit in any engine with md5 — which is what lets the
    IVF oracle re-derive the exact k-means sample outside Spark."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def _md5_sample_key(id_value, seed: int = 42) -> int:
    """Pure-Python twin of :func:`_sample_key_expr`."""
    return int(hashlib.md5(f"{seed}:{id_value}".encode()).hexdigest()[:15], 16)


def _lloyd(X, n_centroids: int, *, iters: int = 8, seed: int = 42):
    """Lloyd's k-means on an in-memory float64 sample — shared verbatim by
    the Spark path and the oracle generator so both produce bit-identical
    centroids from the same sample. Empty cells keep their previous
    centroid."""
    import numpy as np

    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C.tolist()


# Training memos: {(corpus version, params): result}. Training is
# DETERMINISTIC (md5-ordered sample + seeded Lloyd's), so a hit returns
# bit-identical quantizers; it only skips the per-call full-corpus
# TakeOrdered + collect for repeated searches over the same corpus (the
# batch-of-query-batches pattern). The coarse quantizer and the PQ
# codebooks train on the same sample, so one sample memo feeds both;
# the trained centroids and codebooks share the quantizer memo.
# The corpus version (``_corpus_version``) is the analyzed plan's hash
# plus the length and modification time of every input file: the plan
# hash alone ignores file contents, and a parquet overwritten in place
# must retrain. Bounded FIFO under the lock every similarity memo shares
# (``_caching``); training itself runs outside the lock.
_CENTROID_MEMO: dict[tuple, list] = {}
_SAMPLE_MEMO: dict[tuple, object] = {}


def _corpus_version(corpus: DataFrame) -> tuple | None:
    """``(semanticHash, ((path, length, mtime), ...))`` over the corpus's
    input files, read through the Hadoop ``FileSystem`` so any scheme
    works; None when it cannot be read (Spark Connect, a vanished file),
    which disables the memos for that call."""
    try:
        spark = corpus.sparkSession
        conf = spark._jsc.hadoopConfiguration()
        files = []
        for name in corpus.inputFiles():
            path = spark._jvm.org.apache.hadoop.fs.Path(name)
            st = path.getFileSystem(conf).getFileStatus(path)
            files.append((name, st.getLen(), st.getModificationTime()))
        return corpus.semanticHash(), tuple(files)
    except Exception:  # noqa: BLE001 — Connect, missing file, hash failure
        return None


def _search_index(corpus: DataFrame, kind: str, params: tuple, build) -> DataFrame:
    """The persisted corpus side of a search operator: ``build()`` (the
    narrow frame its candidate join reads), built and persisted
    MEMORY_AND_DISK once per (session, corpus version, ``kind``,
    ``params``) and returned as the same frame on every later call.
    Unlike ``localCheckpoint``, a persisted frame recomputes from its
    lineage when an executor is lost. The store has the quantizer memos'
    lock and FIFO bound; eviction and ``release_tracked_caches()``
    unpersist its frames.
    An unknown version (Spark Connect, a vanished file) builds
    unpersisted.

    Spark's cache manager serves a persisted plan to every plan that
    reads the same way, and a file rewritten in place keeps the plan
    (and, when the data-independent hyperplanes or sample-trained
    centroids are unchanged, the whole index plan) identical. So before
    building, entries for the same plan hash with other file stamps are
    unpersisted; otherwise the new index would read the old rows."""
    version = _corpus_version(corpus)
    if version is None:
        return build()
    key = (corpus.sparkSession, version, kind, params)
    index = _memo_get(_INDEX_MEMO, key)
    if index is not None:
        return index
    _memo_evict(
        _INDEX_MEMO, lambda k: k[1][0] == version[0] and k[1] != version
    )
    index = build().persist(StorageLevel.MEMORY_AND_DISK)
    return _memo_put(_INDEX_MEMO, key, index)


def _training_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
    seed: int,
):
    """The ≤ ``sample_size`` float64 training matrix: pseudo-random but
    reproducible in any engine (md5-derived order key, id tie-break).
    Memoized per corpus version — see ``_SAMPLE_MEMO``."""
    import numpy as np

    version = _corpus_version(corpus)
    key = None if version is None else (version, id_col, vec_col, sample_size, seed)
    X = _memo_get(_SAMPLE_MEMO, key)
    if X is not None:
        return X
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(_sample_key_expr(F.col("i"), seed), F.col("i"))
        .limit(sample_size)
        .collect()
    )
    return _memo_put(
        _SAMPLE_MEMO, key, np.array([r["v"] for r in rows], dtype=np.float64)
    )


def _kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    *,
    sample_size: int = 1024,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Coarse-quantizer centroids: Lloyd's k-means on a bounded,
    deterministic corpus sample.

    The sample (≤ ``sample_size`` vectors, ordered by an md5-derived key of
    the id so it is pseudo-random but reproducible in any engine) is
    collected to the driver and iterated with numpy — the standard IVF
    training shape (even distributed k-means ends with the centroid table
    on the driver; it is O(k·dim), not O(corpus)). Results are memoized
    per (corpus version, params) — see ``_CENTROID_MEMO``.
    """
    version = _corpus_version(corpus)
    key = None if version is None else (
        version, "kmeans", id_col, vec_col, n_centroids, sample_size, iters, seed
    )
    cents = _memo_get(_CENTROID_MEMO, key)
    if cents is not None:
        return cents
    X = _training_sample(corpus, id_col, vec_col, sample_size, seed)
    return _memo_put(
        _CENTROID_MEMO, key, _lloyd(X, n_centroids, iters=iters, seed=seed)
    )


def _coarse_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: str,
    *,
    sample_size: int = 1024,
) -> list[list[float]]:
    """The coarse quantizer ``centroids`` names: ``"kmeans"``
    (:func:`_kmeans_centroids`) or ``"sample"``, the first
    ``n_centroids`` raw corpus vectors in md5 id order (cheaper, lower
    recall)."""
    if centroids == "kmeans":
        return _kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, sample_size=sample_size
        )
    if centroids != "sample":
        raise ValueError(
            f"centroids must be 'kmeans' or 'sample', got {centroids!r}"
        )
    return [
        list(r["cv"])
        for r in corpus.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
        .orderBy(_sample_key_expr(F.col("cid")), F.col("cid"))
        .limit(n_centroids)
        .collect()
    ]


def kmeans_centroids_local(
    parquet_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    *,
    sample_size: int = 1024,
    iters: int = 8,
    seed: int = 42,
    id_filter=None,
) -> list[list[float]]:
    """Spark-free twin of :func:`_kmeans_centroids` over a parquet file.

    Same md5 sample ordering, same numpy loop, same floats — used by the
    DuckDB oracle to embed the exact centroids the Spark query trains, so
    the "approximate" IVF result has an exact oracle. ``id_filter``
    (callable on the id) restricts the training population first — the
    replica of training on a FILTERED frame (e.g. the labeled slice in
    ``knn_label(engine="ivf")``).
    """
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    if id_filter is not None:
        keep = [j for j in range(len(ids)) if id_filter(ids[j])]
        ids = [ids[j] for j in keep]
        vecs = [vecs[j] for j in keep]
    order = sorted(range(len(ids)), key=lambda j: (_md5_sample_key(ids[j], seed), ids[j]))
    X = np.array([vecs[j] for j in order[:sample_size]], dtype=np.float64)
    return _lloyd(X, n_centroids, iters=iters, seed=seed)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    centroids: str = "kmeans",
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cell partitioning.

    Coarse quantizer: ``centroids="kmeans"`` (default) trains Lloyd's
    k-means on a bounded deterministic sample (:func:`_kmeans_centroids`);
    ``"sample"`` uses raw corpus vectors picked by xxhash64 of their id
    (cheaper, lower recall). Every corpus vector is assigned to its nearest
    centroid cell map-side; each query probes its ``n_probe`` nearest
    cells, so the candidate join touches ~``n_probe/n_centroids`` of the
    corpus instead of all of it. Exact cosine ranks candidates; same output
    shape as :func:`cosine_topk`, recall < 1 by construction.

    The corpus-side cell assignment runs as one parsed SQL expression
    below a planned corpus size of 2 MiB (or when the size is unknown)
    and as an Arrow-batched numpy kernel above it (:func:`_assign`; the
    two engines cross over at about 1.8 MB on 4 cores). Query-side probe
    ranking is always SQL and candidates are always scored with the
    column-expression dot.

    The assigned corpus ``(id, vec, norm, cell)`` — about the corpus's
    own size — is this operator's search index: built and persisted once
    per corpus version (:func:`_search_index`), so repeat query batches
    on an unchanged corpus skip the assignment and scan the cache;
    ``release_blocking_caches()`` drops it.
    """
    cent_vecs = _coarse_centroids(corpus, id_col, vec_col, n_centroids, centroids)
    arrow = _arrow_assign(corpus)
    c = _search_index(
        corpus,
        "ivf",
        (id_col, vec_col, n_centroids, centroids, arrow),
        lambda: _assign(corpus, vec_col, cents=cent_vecs, arrow=arrow).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            _norm(F.col(vec_col)).alias("__cn"),
            "__cell",
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).withColumn("__cell", F.explode(F.expr(_probe_sql(cent_vecs, "__qv", n_probe))))
    joined = c.join(F.broadcast(q), on="__cell")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn("cosine", _cosine("__cv", "__qv", "__cn", "__qn"))
    return _topk_window(scored, k, "cosine")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    multiprobe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing.

    Candidates come from corpus rows sharing the query's bucket plus every
    probe bucket within Hamming distance ``multiprobe`` of it (probe count
    grows as sum of C(num_planes, d) — the recall/cost dial alongside
    ``num_planes``); exact cosine ranks the candidates. Same output shape
    as :func:`cosine_topk`; recall < 1 by construction. The default
    ``multiprobe=4`` measures recall@5 of 0.86 on a near-uniform corpus
    (LSH's worst case; ~1.0 on clustered corpora) — radius 3 costs ~25%
    less but drops uniform recall to 0.62, the dial-curve numbers live
    in ``BENCH_DETAILS.json:ann_recall_at_k``.

    Bucketing is one parsed SQL expression (:func:`_lsh_bucket_sql`) and
    scoring the column-expression dot: ``num_planes`` cheap dots per row
    beat shipping the vector column through Arrow at both 2k and 20k
    vectors (dim 64, 4 cores).

    The bucketed corpus ``(id, vec, norm, bucket)`` — about the corpus's
    own size — is this operator's search index: built and persisted once
    per corpus version (:func:`_search_index`), so repeat query batches
    skip the bucketing; ``release_blocking_caches()`` drops it.
    """
    if dim is None:
        # Fallback probe: one driver-side job just to learn the vector
        # dimension. Callers that know it should pass ``dim`` so plan
        # construction stays action-free.
        dim = len(queries.select(vec_col).first()[0])
    # The vector stages in its own projection so the bucket SQL
    # references a plain column.
    bucket_sql = _lsh_bucket_sql("__pns_bvec", _hyperplanes(num_planes, dim, seed))
    c = _search_index(
        corpus,
        "lsh",
        (id_col, vec_col, num_planes, seed, dim),
        lambda: corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            _norm(F.col(vec_col)).alias("__cn"),
            F.col(vec_col).alias("__pns_bvec"),
        ).withColumn("__bucket", F.expr(bucket_sql)).drop("__pns_bvec"),
    )
    q_base = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        F.col(vec_col).alias("__pns_bvec"),
    ).withColumn("__qbucket", F.expr(bucket_sql)).drop("__pns_bvec")
    # Multi-probe: each query also probes every bucket within Hamming
    # distance ``multiprobe`` of its own. r13: the probe list is one
    # parsed transform over a literal mask array (mask 0 first — XOR
    # identity — replays the original probes[0] = __qbucket) instead
    # of sum(C(num_planes, d)) Column bitwiseXOR round trips.
    from itertools import combinations

    masks = [0]
    for dist in range(1, multiprobe + 1):
        for bits in combinations(range(num_planes), dist):
            mask = 0
            for b in bits:
                mask |= 1 << b
            masks.append(mask)
    masks_sql = "from_json('" + str(masks) + "', 'array<int>')"
    q = q_base.withColumn(
        "__bucket",
        F.explode(F.expr(f"transform({masks_sql}, m -> __qbucket ^ m)")),
    )

    joined = c.join(F.broadcast(q), on="__bucket")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine", _cosine("__cv", "__qv", "__cn", "__qn")
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _topk_window(scored, k, "cosine")


# Widest embedding label_centroids aggregates with one column-indexed sum
# per dimension; wider ones go through posexplode (same results).
_MAX_EXPR_DIMS = 1024


def label_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int,
) -> DataFrame:
    """Per-label embedding centroid (element-wise mean), one output row per
    ``(label, dim_idx)`` — the IVF-training / dataset-cartography building
    block.

    Shape at scale: up to ``_MAX_EXPR_DIMS`` dimensions, ``dim``
    column-indexed ``sum`` aggregates plus a count in ONE hash aggregation
    — partial aggregation happens map-side, so the shuffle carries
    ``n_labels × (dim + 1)`` doubles, not the corpus, and nothing is ever
    exploded. Beyond that (e.g. 4096-dim model embeddings) a plan with
    thousands of aggregate expressions bloats analysis/codegen, so the
    implementation switches to posexplode → groupBy(label, dim) — more
    shuffle volume (rows × dim exploded doubles, still with map-side
    partial aggregation) but a constant-size plan. Results are identical;
    pinned by ``tests/test_corpus_stats.py``.

    Rounded to 6 decimals as part of the contract (summation order differs
    between engines).
    """
    if dim <= _MAX_EXPR_DIMS:
        # r13 (guide §3.3): each aggregate/mean is one parsed SQL string
        # instead of ~4 py4j Column calls — same GetArrayItem + cast +
        # sum tree, same round(sum/count, 6) arithmetic (Spark SQL `[]`
        # is 0-based like Column.getItem), ~4x fewer driver round trips
        # per call site at dim=64.
        sums = df.groupBy(F.col(label_col).alias("label")).agg(
            F.count("*").alias("__n"),
            *[
                F.expr(
                    f"sum(cast(`{vec_col}`[{i}] as double)) as `__s{i}`"
                )
                for i in range(dim)
            ],
        )
        means = F.expr(
            "array("
            + ", ".join(f"round(`__s{i}` / `__n`, 6)" for i in range(dim))
            + ")"
        )
        return sums.select(
            "label", F.posexplode(means).alias("dim", "centroid")
        ).select("label", F.col("dim").cast("bigint").alias("dim"), "centroid")

    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("__v").cast("double")), 6).alias("centroid"))
        .select("label", F.col("dim").cast("bigint").alias("dim"), "centroid")
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` (0-vectors get scale 0 and all-zero
    codes).

    The 100 TB motivation: an int8 code vector is 4x smaller than
    float32 (8x smaller than the double Spark widens to), shrinking
    embedding shuffles, broadcast payloads, and cached footprints by the
    same factor while cosine degrades only marginally. Cosine is
    scale-invariant, so downstream scoring can run on the integer codes
    directly (:func:`cosine_topk_int8`) — integer dot products and
    integer norms, bit-reproducible across engines.

    Returns ``(id, qvec array<int>, scale double)``. Codes are stored as
    ints for overflow-free arithmetic; cast to ``array<tinyint>`` at the
    parquet sink for the 4x storage win.
    """
    from polars_nexpresso_spark.functions.text import let_bound

    v = F.col(vec_col)
    as_double = F.transform(v, lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(as_double, lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).alias("scale")
    # max|x| is let_bound with the cast vector: referencing the
    # array_max(transform(...)) expression inside the code lambda would
    # recompute it once PER ELEMENT — O(dim²) per row (the
    # hof_reeval_risks rake).
    qvec = let_bound(
        F.struct(as_double.alias("v"), max_abs.alias("m")),
        lambda p: F.when(
            p["m"] == 0, F.transform(p["v"], lambda x: F.lit(0))
        ).otherwise(
            F.transform(
                p["v"],
                lambda x: F.round(x / (p["m"] / F.lit(127.0)), 0).cast("int"),
            )
        ),
    )
    return df.select(
        F.col(id_col), qvec.alias("qvec"), scale
    )


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors (the shrunken-shuffle
    approximation of :func:`cosine_topk`).

    Both sides quantize via :func:`quantize_embeddings`; scoring is pure
    INTEGER arithmetic (dot product and squared norms of the codes —
    cosine is scale-invariant so the per-vector scales cancel), followed
    by one double division — bit-reproducible, so even this approximate
    engine has an exact DuckDB oracle. A zero norm product clamps to 1
    (:func:`_safe`), so a zero vector scores 0. Queries broadcast,
    scoring is map-side, and the top-k is the per-query window.

    Returns ``(query_id, neighbor_id, cosine_q, rank)`` where
    ``cosine_q`` is the quantized-space cosine (within ~1e-2 of the
    float cosine for typical embeddings).
    """
    qc = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col)
    qq = quantize_embeddings(queries, id_col=id_col, vec_col=vec_col)

    def _idot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda a, b: (a * b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    c = qc.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("__cv"),
        _idot(F.col("qvec"), F.col("qvec")).alias("__cn2"),
    )
    q = qq.select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("__qv"),
        _idot(F.col("qvec"), F.col("qvec")).alias("__qn2"),
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine_q",
        F.round(
            _idot(F.col("__cv"), F.col("__qv"))
            / F.sqrt(_safe(F.col("__cn2").cast("double") * F.col("__qn2"))),
            6,
        ),
    )
    return _topk_window(scored, k, "cosine_q")


def rademacher_matrix(
    out_dim: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) projection matrix from md5 parity —
    reproducible across runs/machines/engines with no RNG state, and
    cheap to replay in SQL as literal signs (the oracle pattern the LSH
    hyperplanes use)."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:2], 16)
            % 2
            == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    *,
    out_dim: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: ``y = S x / sqrt(k)``
    with a deterministic ±1 ``S`` (:func:`rademacher_matrix`) and
    ``k = out_dim``. Pairwise distances/cosines survive within JL
    distortion while every embedding byte downstream (shuffles, ANN
    candidate tables, caches) shrinks ``dim/out_dim``-fold — compose
    with :func:`quantize_embeddings` for the full small-vector path.

    Pure column expressions: each output coordinate is one literal-array
    dot product, whole-stage codegen'd, no shuffle, no Python. The
    left-to-right sum order is fixed by the expression shape, so the
    DuckDB oracle (same literal signs, same order) matches bit-for-bit.

    Returns ``(id, proj array<double>)``.
    """
    if not 0 < out_dim <= dim:
        raise ValueError(f"need 0 < out_dim <= dim: {out_dim} vs {dim}")
    mat = rademacher_matrix(out_dim, dim, seed)
    inv_sqrt_k = 1.0 / math.sqrt(out_dim)
    # r13 (guide §3.3): one parsed SQL transform over the folded ±1
    # matrix literal instead of out_dim × dim F.lit py4j round trips.
    # Each coordinate is the same _sql_dot fold × the same scale
    # literal, in the same row order, so values are bit-identical to
    # the old Column form (and the oracle's replay).
    coords_sql = (
        f"transform({_json_arr2(mat)}, r -> "
        f"CAST({_sql_dot(f'`{vec_col}`', 'r')} * "
        f"{_sql_double(inv_sqrt_k)} AS DOUBLE))"
    )
    return df.select(
        F.col(id_col), F.expr(coords_sql).alias("proj")
    )


def auto_centroid_count(
    n_vectors: int, *, target_cluster_size: int = 4096, floor: int = 16
) -> int:
    """Default centroid count for :func:`semantic_dedup`: enough cells
    that the within-cluster pair stage stays ~``target_cluster_size``
    vectors per cell (SemDeDup's cost is sum(cluster^2) — a fixed k
    that is right at sf0.1 is silently quadratic-ish on a corpus 1000×
    larger). ``ceil(n / target)``, floored at ``floor`` so tiny corpora
    keep a meaningful clustering."""
    if n_vectors <= 0:
        return floor
    return max(floor, -(-n_vectors // target_cluster_size))


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    threshold: float = 0.95,
    centroids: str = "kmeans",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with the deterministic k-means quantizer, then inside each cluster
    drop every vector that has a SMALLER-id neighbor with cosine
    similarity >= ``threshold``. Keep-earliest is deterministic and
    order-free, so a brute-force SQL oracle replays it row-for-row.

    Scale shape: centroid training is the same bounded deterministic
    sample as :func:`ivf_ann_topk`; cell assignment is map-side (parsed
    SQL below a planned corpus size of 2 MiB, the Arrow kernel above it,
    see :func:`_assign`); the quadratic similarity test is CONFINED to
    within-cluster pairs — :func:`~polars_nexpresso_spark.functions.dedup.
    embedding_cosine_pairs` blocked on the cell id, the SemDeDup trick —
    so cost is sum(cluster_size^2), not corpus^2. Grow
    ``n_centroids`` with the corpus (clusters of ~1-10k vectors keep the
    pair stage linear-ish);
    no driver-side loop, no global sort. A pathologically hot cluster
    (many near-identical vectors collapsing into one cell — exactly the
    data this operator targets) is the skew case: measure with
    ``plans.stats.key_skew_stats`` on the assignment's ``cluster_id``
    and raise ``n_centroids`` (the quantizer splits dense regions
    first) before reaching for salting — unlike grouped top-k, the
    pair semantics here cannot be salted without losing pairs.

    ``n_centroids=None`` (the default) derives the cell count from a
    cheap corpus count via :func:`auto_centroid_count` (~4k vectors per
    cell), so the operator stays linear-ish as the corpus grows without
    retuning; pass an explicit value to pin it. The assignment table is
    cached before the pair stage's self-join — its a/b branches
    and the final keep-join do not unify under exchange reuse, so
    uncached the ``n_centroids``-way nearest-cell sort expression would
    evaluate ~3× per run (the same recompute shape ``hamming_pairs``
    caches its chunk table against).

    Returns ``(id_col, cluster_id, keep)`` — one row per input vector;
    filter ``keep`` to materialize the deduplicated corpus.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    _corpus_cache = None
    if n_centroids is None:
        # The auto default needs a corpus count — a Spark ACTION at plan
        # construction. Persist the narrow (id, vec) projection first so
        # an expensive upstream plan computes once and the count, the
        # centroid-training sample, and the assignment all read the cache.
        # Pass n_centroids explicitly to keep construction action-free.
        corpus = _corpus_cache = persist_tracked(
            corpus.select(F.col(id_col), F.col(vec_col))
        )
        n_centroids = auto_centroid_count(corpus.count())
    # Keep the k-means training sample comfortably larger than k when the
    # auto default scales up (Lloyd's needs >1 point per cell to split
    # dense regions).
    cent_vecs = _coarse_centroids(
        corpus, id_col, vec_col, n_centroids, centroids,
        sample_size=max(1024, 4 * n_centroids),
    )
    assigned = persist_tracked(
        _assign(corpus, vec_col, cents=cent_vecs).select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            F.col("__cell").alias("cluster_id"),
        )
    )
    if _corpus_cache is not None:
        # The (id, vec) projection cache served the count, the centroid
        # sample, and the assignment build; once the assignment itself is
        # cached it is dead weight — release it rather than hold two
        # copies of the vector corpus.
        assigned.count()  # materialize before dropping the upstream
        _corpus_cache.unpersist()
    # dedup.py imports this module, so the pair stage is imported here.
    from polars_nexpresso_spark.functions.dedup import embedding_cosine_pairs

    dropped = (
        embedding_cosine_pairs(
            assigned, "__v", id_col, threshold=threshold, block_col="cluster_id"
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(dropped, on=id_col, how="left")
        .select(
            id_col,
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    engine: str = "exact",
    n_centroids: int = 16,
    n_probe: int = 4,
    max_positives: int = 16,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Hard-negative mining for retrieval / embedding-model training:
    per query vector, the top-``k`` most-similar corpus vectors that are
    NOT known positives for that query.

    Contrastive training (DPR/SBERT practice) needs negatives that are
    hard — near the query in embedding space — but wrong; random
    negatives are trivially separable and teach nothing. ``positives``
    is the labeled relevance table ``(query_id_col, doc_id_col)``; the
    query itself is always excluded.

    ``engine="exact"`` (default, the correctness baseline) scans the
    full corpus with :func:`cosine_topk`'s kernel: the corpus NEVER
    shuffles, and each query's positive ids (one small aggregation over
    the labels table) are collected with its vector as the kernel's
    per-query exclusion set, not joined against the scored corpus.

    ``engine="ivf"`` is the 100 TB path: candidates come from
    :func:`ivf_ann_topk` (the candidate join touches ~n_probe/
    n_centroids of the corpus, not all of it), over-fetched to
    ``k + max_positives`` so the positive filter cannot starve the
    top-k, then filtered and re-ranked — the re-rank window is bounded
    to ≤ k + max_positives rows per query. Recall < 1 by construction,
    exactly as documented for the ANN engines; a query with more than
    ``max_positives`` positives among its candidates may return fewer
    than k rows (raise ``max_positives`` to taste — candidates stay
    queries × (k + max_positives)).

    ``engine="ivfpq"`` is the compressed 100 TB path: candidates come
    from :func:`ivfpq_ann_topk` (cell-bounded like ``"ivf"``, but the
    candidate join's build side carries ``(id, cell, m codes)`` instead
    of float vectors), over-fetched to ``k + max_positives`` by ADC
    score, positive-filtered, then EXACT-cosine re-ranked via
    :func:`exact_rerank` (the retrieve-then-rerank cascade) — so the
    output scores are true cosines with the same contract as the other
    engines; only candidate membership is approximate.

    Returns ``(query_id, neighbor_id, cosine, rank)`` with the
    deterministic (cosine desc, neighbor_id asc) tie-break.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if engine not in ("exact", "ivf", "ivfpq"):
        raise ValueError(
            f"engine must be 'exact', 'ivf', or 'ivfpq', got {engine!r}"
        )
    pos_sets = positives.groupBy(
        F.col(query_id_col).alias("query_id")
    ).agg(F.collect_set(F.col(doc_id_col)).alias("__pos"))
    if engine == "exact":
        q = queries.select(
            F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv")
        ).join(
            pos_sets.select(
                F.col("query_id").alias("__qid"), F.col("__pos").alias("__excl")
            ),
            on="__qid",
            how="left",
        )
        return _cosine_kernel(corpus, q, id_col, vec_col, k, True)
    ann = dict(
        id_col=id_col,
        vec_col=vec_col,
        k=k + max_positives,
        n_centroids=n_centroids,
        n_probe=n_probe,
    )
    if engine == "ivf":
        cand = ivf_ann_topk(corpus, queries, **ann)
    else:
        cand = ivfpq_ann_topk(corpus, queries, m=m, n_codes=n_codes, **ann)
    filtered = (
        cand.join(F.broadcast(pos_sets), on="query_id", how="left")
        .withColumn("__pos", F.coalesce("__pos", F.array()))
        .filter(~F.array_contains(F.col("__pos"), F.col("neighbor_id")))
    )
    if engine == "ivf":
        return _topk_window(filtered, k, "cosine")
    return exact_rerank(
        filtered, corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    )


# --- product quantization ----------------------------------------------------


def _pq_split(dim: int, m: int) -> list[tuple[int, int]]:
    """(offset, width) per subspace; dim must divide evenly."""
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    return [(i * sub, sub) for i in range(m)]


def pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 1024,
    iters: int = 8,
    seed: int = 42,
    residual_cents: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: per subspace, Lloyd's k-means over
    the L2-NORMALIZED bounded deterministic sample (same md5 sample
    ordering as :func:`_kmeans_centroids`; per-subspace seeds). Returns
    ``m`` codebooks of ``n_codes`` codewords each — O(m·n_codes·dim/m)
    floats on the driver, never O(corpus).

    With ``residual_cents`` (the IVF coarse-quantizer centroids, RAW
    space), codebooks train on RESIDUALS instead — unit vector minus
    the unit-normalized centroid of the sample row's raw-space nearest
    cell (standard IVF-PQ, Jégou et al. 2011): within a cell the
    residuals carry the between-member differences the raw unit vectors
    bury under the shared cluster direction.

    r14: the sample comes from the shared :func:`_training_sample`
    stage — one TakeOrdered+collect feeds this AND the coarse-quantizer
    training when an ivfpq constructor needs both (it previously ran
    its own identical corpus pass). The codebooks are memoized per
    corpus version next to the coarse centroids (``_CENTROID_MEMO``)."""
    version = _corpus_version(corpus)
    key = None if version is None else (
        version, "pq", id_col, vec_col, m, n_codes, sample_size, iters, seed,
        None if residual_cents is None else tuple(map(tuple, residual_cents)),
    )
    codebooks = _memo_get(_CENTROID_MEMO, key)
    if codebooks is not None:
        return codebooks
    X = _training_sample(corpus, id_col, vec_col, sample_size, seed)
    return _memo_put(
        _CENTROID_MEMO,
        key,
        _pq_train_sample(
            X,
            m=m,
            n_codes=n_codes,
            iters=iters,
            seed=seed,
            residual_cents=residual_cents,
        ),
    )


def _unit_rows(X):
    import numpy as np

    norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return X / norms


def _chat(cent_vecs) -> list[list[float]]:
    """Unit-normalized coarse centroids (zero-norm kept as zeros) — the
    per-cell reference vectors the residual decomposition subtracts.
    Any per-cell reference keeps ``<q,u> = <q,ĉ> + <q,u-ĉ>`` EXACT;
    normalizing keeps the residual small so PQ quantizes differences,
    not magnitudes."""
    import numpy as np

    return _unit_rows(np.asarray(cent_vecs, dtype=np.float64)).tolist()


def _pq_train_sample(
    X, *, m: int, n_codes: int, iters: int, seed: int, residual_cents=None
):
    import numpy as np

    if residual_cents is None:
        base = _unit_rows(X)
    else:
        # Cell assignment in RAW space (exactly how the corpus assigns —
        # _cells_ranked_sql ranks raw-vector distances), residual in
        # UNIT space against the normalized centroid.
        cents = np.asarray(residual_cents, dtype=np.float64)
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
        cell = d.argmin(axis=1)  # first occurrence on ties, as the SQL
        chat = np.asarray(_chat(residual_cents), dtype=np.float64)
        base = _unit_rows(X) - chat[cell]
    out = []
    for mi, (off, sub) in enumerate(_pq_split(base.shape[1], m)):
        out.append(
            _lloyd(
                base[:, off : off + sub], n_codes, iters=iters, seed=seed + mi
            )
        )
    return out


def pq_codebooks_local(
    parquet_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 1024,
    iters: int = 8,
    seed: int = 42,
    residual_cents: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Spark-free twin of :func:`pq_codebooks` over a parquet file —
    the oracle generator embeds the exact codebooks the Spark query
    trains (the :func:`kmeans_centroids_local` pattern)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda j: (_md5_sample_key(ids[j], seed), ids[j]),
    )
    X = np.array([vecs[j] for j in order[:sample_size]], dtype=np.float64)
    return _pq_train_sample(
        X,
        m=m,
        n_codes=n_codes,
        iters=iters,
        seed=seed,
        residual_cents=residual_cents,
    )


def _pq_unit(vec_col):
    # The safe norm is let_bound alongside the vector: referencing the
    # _norm aggregate directly inside the transform lambda would
    # recompute the full-vector norm once PER ELEMENT — O(dim²) per row
    # (the hof_reeval_risks rake).
    from polars_nexpresso_spark.functions.text import let_bound

    return let_bound(
        F.struct(vec_col.alias("v"), _safe(_norm(vec_col)).alias("s")),
        lambda p: F.transform(p["v"], lambda x: x.cast("double") / p["s"]),
    )


def _sql_double(x: float) -> str:
    """Exact double literal as SQL text: string-cast round-trips through
    Java's parseDouble on the shortest repr, so the parsed Literal is
    bit-identical to the Python float."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_arr(cw) -> str:
    return f"array({', '.join(_sql_double(x) for x in cw)})"


def _sql_dot(vec_sql: str, cw) -> str:
    """SQL text producing the same tree as ``_dot(vec, lit-array)``:
    sequential left-to-right double fold, so values are bit-identical to
    the Column form (and to the DuckDB oracle's replay). ``cw`` is a
    vector (emitted as an inline array literal) or pre-built SQL text
    for the codeword operand (r13: ``element_at`` into a folded
    ``from_json`` literal — see ``_json_arr2``)."""
    cw_sql = cw if isinstance(cw, str) else _sql_arr(cw)
    return (
        f"aggregate(zip_with({vec_sql}, {cw_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_sqdist(vec_sql: str, cw) -> str:
    cw_sql = cw if isinstance(cw, str) else _sql_arr(cw)
    return (
        f"aggregate(zip_with({vec_sql}, {cw_sql}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _json_arr2(vecs) -> str:
    """One compact foldable literal for a list of double vectors:
    ``from_json('[[...]]', 'array<array<double>>')``. The SQL parser
    sees ONE string token instead of ~35 chars of CAST text per element
    (the old per-codeword ``_sql_arr`` form), and ConstantFolding
    collapses the from_json to an array Literal before execution, so
    per-row cost is unchanged. repr() emits the shortest round-trip
    form; the JSON reader parses numbers with Double.parseDouble
    semantics, so the folded doubles are bit-identical to the Python
    floats (the same contract ``_sql_double`` documents)."""
    import math

    for v in vecs:
        for x in v:
            if not math.isfinite(x):
                raise ValueError(f"non-finite codebook value: {x!r}")
    body = ",".join(
        "[" + ",".join(repr(float(x)) for x in v) + "]" for v in vecs
    )
    return f"from_json('[{body}]', 'array<array<double>>')"


def _uniform_codebook_len(codebooks) -> int:
    """The shared codeword count, asserting uniformity (r14, ADVICE
    r13): the generated SQL indexes every subspace with the FIRST
    codebook's length, so a ragged caller-supplied codebook would make
    ``element_at`` run past the end and return NULL distances —
    silently corrupting code assignment instead of failing."""
    sizes = {len(cb) for cb in codebooks}
    if len(sizes) != 1:
        raise ValueError(
            f"ragged PQ codebooks: per-subspace codeword counts "
            f"{sorted(sizes)} — all subspaces must share one n_codes"
        )
    return len(codebooks[0])


def _pq_codes_sql(codebooks, col: str = "__unit") -> str:
    """SQL text assigning per-subspace nearest codewords (ties to the
    lowest index) over the pre-materialized ``col`` column.

    r13 (guide §3.3/§7.2 — planning cost): the per-codeword sqdist
    template is emitted ONCE per subspace inside a
    ``transform(sequence(...))`` loop over a folded ``from_json``
    codebook literal, instead of once per codeword with an inline
    array literal — ~6x less text to parse/analyze at the default
    m=8 × n_codes=16 dials, the same per-row evaluation count, and
    bit-identical doubles (``_json_arr2``). Ordering is unchanged:
    ``named_struct('d', …, 'i', ci)`` structs sorted by ``array_sort``
    keep (distance asc, index asc), and ``sequence(0, n-1)`` yields
    the same int indices the old text wrote literally."""
    m = len(codebooks)
    n_codes = _uniform_codebook_len(codebooks)
    dim = sum(len(cb[0]) for cb in codebooks) // m * m
    per_m = []
    for mi, (off, sub) in enumerate(_pq_split(dim, m)):
        sub_sql = f"slice({col}, {off + 1}, {sub})"
        cw_sql = f"element_at({_json_arr2(codebooks[mi])}, ci + 1)"
        structs = (
            f"transform(sequence(0, {n_codes - 1}), ci -> "
            f"named_struct('d', {_sql_sqdist(sub_sql, cw_sql)}, 'i', ci))"
        )
        per_m.append(f"array_sort({structs})[0].i")
    return f"array({', '.join(per_m)})"


def _cdots_sql(chat_vecs) -> str:
    """SQL text for the per-query array of exact inner products against
    every unit-normalized coarse centroid — the ``<q, ĉ_cell>`` term of
    the residual ADC decomposition, over a pre-materialized ``__unit``
    column."""
    return (
        f"transform({_json_arr2(chat_vecs)}, "
        f"ch -> {_sql_dot('__unit', 'ch')})"
    )


def _residual_sql(chat_vecs) -> str:
    """SQL text for the unit-space residual ``__unit - ĉ[__cell]`` over
    pre-materialized ``__unit``/``__cell`` columns. The ĉ table rides
    the expression as one literal array-of-arrays; both zip_with inputs
    are HOF *arguments* (evaluated once per row)."""
    chat_arr = _json_arr2(chat_vecs)
    return (
        f"zip_with(__unit, element_at({chat_arr}, __cell + 1), "
        "(a, b) -> a - b)"
    )


def _pq_luts_sql(codebooks) -> str:
    """SQL text for the per-query m x n_codes inner-product lookup
    tables over a pre-materialized ``__unit`` column."""
    m = len(codebooks)
    n_codes = _uniform_codebook_len(codebooks)
    dim = sum(len(cb[0]) for cb in codebooks) // m * m
    luts = []
    for mi, (off, sub) in enumerate(_pq_split(dim, m)):
        sub_sql = f"slice(__unit, {off + 1}, {sub})"
        cw_sql = f"element_at({_json_arr2(codebooks[mi])}, ci + 1)"
        luts.append(
            f"transform(sequence(0, {n_codes - 1}), "
            f"ci -> {_sql_dot(sub_sql, cw_sql)})"
        )
    return f"array({', '.join(luts)})"


def _cells_ranked_sql(cent_vecs, col: str) -> str:
    """SQL text ranking every coarse-quantizer cell by squared distance
    to the raw vector column ``col``: an array of ``named_struct('d',
    distance, 'i', cell)`` sorted by (d asc, i asc), so ties go to the
    lowest index — the same ordering the IVF oracle replays via
    ``list_distance``."""
    k = len(cent_vecs)
    cw_sql = f"element_at({_json_arr2(cent_vecs)}, i + 1)"
    return (
        f"array_sort(transform(sequence(0, {k - 1}), i -> "
        f"named_struct('d', {_sql_sqdist(col, cw_sql)}, 'i', i)))"
    )


def _probe_sql(cent_vecs, col: str, n_probe: int) -> str:
    """SQL text for the ``n_probe`` nearest cell ids of ``col``."""
    ranked = _cells_ranked_sql(cent_vecs, col)
    return f"slice(transform({ranked}, s -> s.i), 1, {n_probe})"


# Planned corpus size at which corpus-side quantizer assignment moves
# from parsed SQL to the Arrow kernels (see _assign).
_ARROW_ASSIGN_MIN_BYTES = 2 << 20


def _arrow_assign(corpus: DataFrame) -> bool:
    """The size gate of :func:`_assign`: True when the planned corpus
    size is known and at least ``_ARROW_ASSIGN_MIN_BYTES``."""
    size = plan_size_bytes(corpus)
    return size is not None and size >= _ARROW_ASSIGN_MIN_BYTES


def _assign(
    corpus: DataFrame,
    vec_col: str,
    *,
    cents=None,
    dist: bool = False,
    codebooks=None,
    chat=None,
    arrow: bool | None = None,
) -> DataFrame:
    """``corpus`` with its corpus-side quantizer assignment appended:
    ``__cell`` (nearest of the raw-space centroids ``cents``, ties to the
    lowest index) when ``cents`` is given, plus ``__dist`` (euclidean
    distance to it) with ``dist``; ``__codes`` (per-subspace nearest
    codeword of the unit vector, or of the unit-space residual
    ``unit - chat[__cell]`` when ``chat`` is given) when ``codebooks``
    is given.

    The one engine gate for this work. Below a planned corpus size
    (``plan_size_bytes``) of ``_ARROW_ASSIGN_MIN_BYTES``, or when the
    size is unknown, the assignment is parsed SQL: sequential folds the
    oracles replay bit for bit, and no Python worker round trip. Above
    it, one Arrow-batched numpy kernel computes all distances per batch,
    which pays for the Arrow transfer of the vector column once the
    corpus is larger. Measured on 4 cores with dim-64 vectors (CPU per
    call, straight lines through 0.58 and 5.8 MB cached corpora): cell
    assignment against 16 centroids crosses over at about 1.75-1.8 MB,
    PQ codes (m=8 x 16 codewords) at about 0.6 MB; the threshold sits at
    the cell crossover. ``arrow`` pins the engine instead (True = Arrow,
    False = SQL).
    """
    if arrow is None:
        arrow = _arrow_assign(corpus)
    vec = F.col(vec_col)
    out, picks = corpus, []
    if arrow:
        from polars_nexpresso_spark.functions import _vectorized as vz

        if chat is not None:
            best = vz.pandas_ivfpq_residual_codes(cents, chat, codebooks)(vec)
            picks = [F.col("__best.cell").alias("__cell"),
                     F.col("__best.codes").alias("__codes")]
        elif cents is not None:
            best = vz.pandas_nearest_cell_dist(cents)(vec)
            picks = [F.col("__best.cell").alias("__cell")]
            picks += [F.col("__best.dist").alias("__dist")] if dist else []
    elif cents is not None:
        best = F.expr(f"{_cells_ranked_sql(cents, f'`{vec_col}`')}[0]")
        picks = [F.col("__best.i").alias("__cell")]
        picks += [F.sqrt("__best.d").alias("__dist")] if dist else []
    if picks:
        # The best-cell struct stages in its own projection, so the kernel
        # (or the cell sort) runs once per row when several fields are read.
        out = out.select("*", best.alias("__best")).select("*", *picks).drop("__best")
    if codebooks is None or (arrow and chat is not None):
        return out
    if arrow:
        return out.withColumn("__codes", vz.pandas_pq_codes(codebooks)(vec))
    # The unit vector (and the residual) materialize in their own
    # projections: the codes SQL reads each subspace slice n_codes times,
    # and CollapseProject keeps non-cheap expressions referenced more than
    # once split, so each row normalizes once.
    staged = out.withColumn("__unit", _pq_unit(vec))
    src = "__unit"
    if chat is not None:
        staged = staged.withColumn("__res", F.expr(_residual_sql(chat)))
        src = "__res"
    return staged.withColumn(
        "__codes", F.expr(_pq_codes_sql(codebooks, src))
    ).drop("__unit", "__res")


def _adc_sum():
    """Unrounded ADC fold: sum of one LUT read per subspace, sequential."""
    return F.aggregate(
        F.zip_with(
            F.col("__codes"),
            F.col("__luts"),
            lambda c, l: F.element_at(l, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_score(base=None):
    """ADC score: the subspace-LUT fold, rounded. ``base`` (residual
    path) adds the exact ``<q, ĉ_cell>`` term OUTSIDE the fold —
    ``base + (l₁+…+l_m)`` — the same association as the oracle's
    ``cdot + list_sum(...)``, so round(…, 6) sees the same double."""
    total = _adc_sum() if base is None else base.cast("double") + _adc_sum()
    return F.round(total, 6)


def _topk_window(scored, k: int, score_col: str):
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, "rank")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-codeword indices:
    ``m`` small ints instead of ``dim`` floats (with the catalog's
    dim-64 float corpus and m=8, a 32x smaller representation to
    shuffle, store, or hold in memory at 100 TB). Assignment is
    map-side, ties to the lowest index: one parsed SQL expression below
    a planned corpus size of 2 MiB (or when the size is unknown), one
    Arrow stage for all subspaces above it (:func:`_assign`; for codes
    alone the engines cross over at about 0.6 MB on 4 cores)."""
    return _assign(corpus, vec_col, codebooks=codebooks).select(
        F.col(id_col), F.col("__codes").alias(out_col)
    )


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k cosine via product quantization with
    asymmetric distance computation (Jégou et al. 2011): the corpus is
    PQ-encoded once (m ints per vector), each query precomputes one
    inner-product lookup table per subspace against the codebooks, and
    a candidate's score is the sum of m table lookups — no
    per-candidate float vector ever moves or multiplies.

    Scale shape: codebooks train on a bounded sample (driver-sized);
    encoding is map-side (SQL or Arrow kernel by corpus size, see
    :func:`pq_encode`); queries (with their LUTs) broadcast; scoring
    is a per-row m-lookup expression and the top-k is the bounded
    per-query window. Recall < 1 by construction (quantization error);
    compose with the IVF cell filter for the 100 TB path exactly as
    ``mine_hard_negatives(engine="ivf")`` composes candidates — PQ
    compresses the SCORING, IVF bounds the CANDIDATES.

    POSITIONING (measured, ``ann_recall_at_k``): standalone PQ is a
    COMPRESSION stage, not a retrieval engine — at compact dials its
    exact-id recall@5 is 0.11-0.25 on both bench corpora (near-ties
    between the true neighbors quantize to the same codes and rank by
    noise). Use it to shrink what moves (32x vs floats), and recover
    ids with the retrieve-then-rerank cascade: residual
    :func:`ivfpq_ann_topk` + a 60-candidate :func:`exact_rerank`
    measures 0.84-1.0 recall@5 on the clustered corpus at the same
    compression. That rescue is DISTRIBUTION-BOUND: on the uniform
    (unclustered) corpus the cascade tops out at 0.52 even at the high
    dial (overfetch 100) — residuals, n_codes=64, and wider shortlists
    were all measured and none lifts it further. For embeddings that
    do not cluster (whitened outputs, random projections), no PQ
    variant is the answer: use :func:`lsh_ann_topk` (0.88-0.96 there)
    or :func:`ivf_ann_topk` (0.75-0.86) and pay the full-width scan.
    The engine chooser table in docs/api/pipeline.md keys these
    recommendations to the sealed grid.

    The codebooks are memoized and the encoded corpus ``(id, m codes)``
    is this operator's search index, built and persisted once per corpus
    version (:func:`_search_index`): repeat query batches train and
    encode nothing; ``release_blocking_caches()`` drops it.

    Returns ``(query_id, neighbor_id, score, rank)`` — ``score`` is the
    ADC cosine approximation (rounded to 6), ranked desc with the id
    tie-break.
    """
    codebooks = pq_codebooks(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        n_codes=n_codes,
    )
    arrow = _arrow_assign(corpus)
    encoded = _search_index(
        corpus,
        "pq",
        (id_col, vec_col, m, n_codes, arrow),
        lambda: _assign(corpus, vec_col, codebooks=codebooks, arrow=arrow).select(
            F.col(id_col).alias("neighbor_id"), "__codes"
        ),
    )
    # One parsed SQL string for the full m x n_codes LUT (the Column
    # form costs 2 py4j lambda registrations per codeword);
    # the query unit vector materializes once per row in its own
    # projection before the per-codeword dots reference it.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_unit(F.col(vec_col)).alias("__unit"),
    ).select(F.col("query_id"), F.expr(_pq_luts_sql(codebooks)).alias("__luts"))
    joined = encoded.join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn("score", _adc_score())
    return _topk_window(scored, k, "score")


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    exclude_self: bool = True,
    assign: str | None = None,
    residual: bool = True,
) -> DataFrame:
    """IVF+PQ composed index (the FAISS IVFPQ shape, Jégou et al. 2011):
    the IVF coarse quantizer bounds WHICH candidates each query touches
    (``n_probe/n_centroids`` of the corpus instead of all of it), and PQ
    bounds WHAT moves per candidate (m small ints + one ADC lookup sum
    instead of a dim-float vector and a full dot product).

    ``residual=True`` (default) PQ-encodes the RESIDUAL ``u - ĉ_cell``
    (unit vector minus the unit-normalized centroid of the assigned
    cell) instead of the raw unit vector — standard IVF-PQ. The score
    decomposition ``<q,u> = <q,ĉ_cell> + <q,u-ĉ_cell>`` is EXACT: the
    first term is one precomputed per-(query, cell) dot that rides the
    query broadcast, only the second is quantized. On clustered
    corpora (real embedding models) the raw unit vectors of one cell
    all collapse to nearly the same codes — ADC then ranks near-ties
    by noise (measured recall@5 0.108 at the catalog dial) — while
    their residuals carry exactly the between-member differences;
    measured on the bench's clustered corpus the 60-candidate rerank
    cascade moves 0.52 → ~0.9 recall@5 (``ann_recall_at_k``).

    This is the 100 TB ANN path the standalone operators document:
    :func:`pq_ann_topk` scores compactly but scans every vector per
    query; :func:`ivf_ann_topk` prunes cells but shuffles full float
    vectors into the candidate join. Composed, the equi-join on the
    cell id carries only ``(id, cell, m codes)`` per corpus row — at
    the catalog's dim-64 float corpus, a ~32x smaller build side —
    and both trainings stay bounded driver-side samples. Recall is
    bounded above by the IVF cell recall and below by PQ quantization
    error; raise ``n_probe``/``n_codes`` to trade cost for recall
    (measured points in ``BENCH_DETAILS.json:ann_recall_at_k``).

    APPLICABILITY: the cascade's recall rescue presumes a CLUSTERED
    corpus. On the uniform bench corpus the high-dial rerank cascade
    (overfetch 100) ceilings at 0.52 recall@5 — measured, not tunable
    away — so for unclustered embeddings steer to :func:`lsh_ann_topk`
    (0.88-0.96) or :func:`ivf_ann_topk` (0.75-0.86) instead of any PQ
    variant; the chooser table in docs/api/pipeline.md keys the
    recommendation to the sealed grid.

    Corpus-side cell and code assignment runs as sequential-arithmetic
    parsed SQL below a planned corpus size of 2 MiB (or when the size is
    unknown) — deterministic training makes the whole index replayable
    in SQL, so the oracle is hash-exact like the standalone PQ/IVF
    oracles — and as one Arrow-batched numpy kernel above it
    (:func:`_assign`). With the PQ codes in the kernel the engines cross
    over lower, at about 0.6 MB on 4 cores, so between that and 2 MiB
    the SQL form costs up to ~2x. Query-side probe ranking is always
    SQL. ``assign="expr"`` or ``"pandas"`` pins the SQL or the Arrow
    engine instead of the size gate.

    Both trainings are memoized and the assigned corpus ``(id, cell, m
    codes)`` is this operator's search index, built and persisted once
    per corpus version and engine (:func:`_search_index`): repeat query
    batches train and assign nothing; ``release_blocking_caches()``
    drops it.

    Returns ``(query_id, neighbor_id, score, rank)`` — ``score`` is
    the ADC cosine approximation (rounded to 6), desc, id tie-break.
    """
    cent_vecs = _kmeans_centroids(corpus, id_col, vec_col, n_centroids)
    codebooks = pq_codebooks(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        n_codes=n_codes,
        residual_cents=cent_vecs if residual else None,
    )
    chat_vecs = _chat(cent_vecs) if residual else None
    if assign not in (None, "expr", "pandas"):
        raise ValueError(f"assign must be None, 'expr' or 'pandas': {assign!r}")
    arrow = _arrow_assign(corpus) if assign is None else assign == "pandas"
    c = _search_index(
        corpus,
        "ivfpq",
        (id_col, vec_col, n_centroids, m, n_codes, residual, arrow),
        lambda: _assign(
            corpus,
            vec_col,
            cents=cent_vecs,
            codebooks=codebooks,
            chat=chat_vecs,
            arrow=arrow,
        ).select(F.col(id_col).alias("neighbor_id"), "__cell", "__codes"),
    )
    probe = F.expr(_probe_sql(cent_vecs, "__v", n_probe))
    q_cols = [
        probe.alias("__probe"),
        F.expr(_pq_luts_sql(codebooks)).alias("__luts"),
    ]
    if residual:
        # <q, ĉ_i> for every cell — exact, rides the query broadcast.
        q_cols.append(F.expr(_cdots_sql(chat_vecs)).alias("__cdots"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__v"),
        _pq_unit(F.col(vec_col)).alias("__unit"),
    ).select("query_id", *q_cols)
    explode_cols = [
        F.col("query_id"),
        F.explode(F.col("__probe")).alias("__cell"),
        F.col("__luts"),
    ]
    if residual:
        explode_cols.append(F.col("__cdots"))
    q = q.select(*explode_cols)
    if residual:
        q = q.select(
            "query_id",
            "__cell",
            "__luts",
            F.element_at(F.col("__cdots"), F.col("__cell") + 1).alias(
                "__cdot"
            ),
        )
    joined = c.join(F.broadcast(q), on="__cell")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "score", _adc_score(F.col("__cdot") if residual else None)
    )
    return _topk_window(scored, k, "score")


def exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate table — the second
    stage of the classic retrieve-then-rerank pattern: any approximate
    engine over-fetches ``(query_id, neighbor_id)`` candidates cheaply
    (LSH buckets, IVF cells, PQ codes), and this stage restores exact
    scores and exact ordering AMONG those candidates. Recall stays
    bounded by candidate generation; precision within the candidate set
    becomes exact — which is what compressed indexes like
    :func:`ivfpq_ann_topk` trade away and the re-rank buys back.

    Scale shape: the candidate table is queries x overfetch rows —
    small by construction — so it BROADCASTS into the corpus scan and
    the corpus never shuffles (a broadcast-hash semi-fetch of candidate
    vectors, not a sort-merge join); query vectors ride a second
    broadcast; the final top-k is the bounded per-query window over
    ≤ overfetch rows. Exactly two map-side joins, zero corpus
    exchanges.

    Returns ``(query_id, neighbor_id, cosine, rank)`` — the
    :func:`cosine_topk` contract, with the same rounding and
    deterministic (cosine desc, id asc) tie-break.

    r14 (guide §2.4/§3.3): the distinct candidate id set — queries ×
    overfetch rows by the first-stage contract — is pinned with an
    EAGER ``localCheckpoint`` before it broadcasts. Without the pin the
    whole candidate-generation cascade (e.g. the IVF+PQ retrieval plan)
    sits under the rerank join's BroadcastExchange: it bloats the plan
    the rerank query re-optimizes, and at scale it runs inside the
    broadcast build thread against ``spark.sql.broadcastTimeout``. With
    the pin the rerank plan reads two bounded pinned relations and
    scans the corpus exactly ONCE (the cascade's own corpus scan runs
    in the bounded pin job). Note this makes CONSTRUCTING the returned
    frame execute Spark jobs (the established pin idiom — see
    ``cross_encoder_rerank``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    cand = (
        candidates.select("query_id", "neighbor_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    fetched = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    ).join(F.broadcast(cand), on="neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    scored = fetched.join(F.broadcast(q), on="query_id").withColumn(
        "cosine", _cosine("__cv", "__qv", "__cn", "__qn")
    )
    return _topk_window(scored, k, "cosine")


def ann_recall_table(
    approx: DataFrame,
    exact: DataFrame,
) -> DataFrame:
    """Distributed per-query recall of an approximate top-k table
    against the exact one — the eval an ANN dial needs, as a DataFrame
    op instead of a driver-side ``collect()`` (at 100 TB the eval
    query set itself is a table; nothing here touches the driver).

    Both inputs are ``(query_id, neighbor_id, ...)`` tables (any extra
    columns ignored; duplicate pairs deduped). Recall is measured per
    query against however many rows ``exact`` holds for it, so feeding
    exact top-5 measures recall@5.

    Scale shape: one distinct per side on the (already small) eval
    pairs, one key-partitioned LEFT join on (query_id, neighbor_id),
    one hash agg — every exchange carries eval-set rows, never the
    corpus.

    Returns ``(query_id, n_exact, n_hit, recall)`` with recall rounded
    to 6 (deterministic and oracle-checkable).
    """
    # Dedup BOTH sides: duplicate pairs in `exact` would inflate n_exact
    # (understating recall), not just duplicate hits in `approx`.
    e = exact.select("query_id", "neighbor_id").distinct()
    a = (
        approx.select("query_id", "neighbor_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        e.join(a, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum("__hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hit") / F.col("n_exact"), 6),
        )
    )


def embedding_outliers(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding-space outlier gate: flag vectors unusually FAR from
    every cluster center — corrupt embeddings, out-of-domain content,
    encoder failures (the all-zeros/NaN classics land here first). The
    embedding-side analog of the text ``quality_filter``: run it before
    ANN index builds and semantic dedup so junk vectors neither pollute
    cells nor elect themselves near-dup representatives.

    Trains the same bounded deterministic k-means as ``ivf_ann_topk``
    (so the oracle re-derives the exact centroids Spark-free), assigns
    every vector to its nearest centroid MAP-SIDE, and scores each by
    the z-score of its euclidean distance to that centroid against the
    corpus-wide distance distribution. Returns one row per vector:
    ``(id_col, cell, centroid_dist, dist_z, is_outlier)`` with
    ``centroid_dist``/``dist_z`` rounded to 6 decimals (the rounding is
    the reproducibility contract) and
    ``is_outlier = dist_z > z_threshold``.

    Scale shape: centroid training is a ≤1024-row driver sample
    (O(k·dim), never corpus-sized); assignment + distance is one
    projection over the scan — parsed SQL below a planned corpus size
    of 2 MiB (or when the size is unknown), one vectorized distance
    matrix per Arrow batch above it (:func:`_assign`; the engines cross
    over at about 1.75 MB on 4 cores); no shuffle either way. The two
    distribution scalars (mean, population stddev) ride ONE broadcast
    1-row aggregate back into the scoring projection. The vectors
    themselves never shuffle — the only exchange in the whole plan
    carries partial (sum, count, m2) floats.
    """
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1: {n_centroids}")
    if id_col not in corpus.columns or vec_col not in corpus.columns:
        raise ValueError(
            f"columns {id_col!r}/{vec_col!r} not both in {corpus.columns}"
        )
    cent_vecs = _kmeans_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = _assign(corpus, vec_col, cents=cent_vecs, dist=True).select(
        F.col(id_col),
        F.col("__cell").alias("cell"),
        F.round("__dist", 6).alias("centroid_dist"),
    )
    stats = assigned.agg(
        F.avg("centroid_dist").alias("__m"),
        F.stddev_pop("centroid_dist").alias("__sd"),
    )
    z = F.round(
        F.try_divide(
            F.col("centroid_dist") - F.col("__m"),
            F.when(F.col("__sd") > 0, F.col("__sd")),
        ),
        6,
    )
    return assigned.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        "cell",
        "centroid_dist",
        z.alias("dist_z"),
        (z > F.lit(float(z_threshold))).alias("is_outlier"),
    )


def cluster_purity(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_centroids: int = 16,
) -> DataFrame:
    """Per-cell purity of the k-means clustering against a label column
    — the standard external clustering eval, here as the quality dial
    for every operator built on the coarse quantizer (``ivf_ann_topk``
    cells, ``semantic_dedup`` buckets, ``embedding_outliers``): low
    purity at the catalog ``n_centroids`` says the cells mix semantic
    classes and probing more cells (or training more centroids) will
    pay; uniformly high purity says the quantizer already separates
    the data. Trains the same bounded deterministic k-means, so the
    oracle embeds the exact centroids.

    Returns one row per non-empty cell: ``(cell, n, majority_label,
    n_majority, purity)`` with ``purity = round(n_majority / n, 9)``;
    majority ties break to the smallest label.

    Scale shape: assignment is the map-side projection shared with
    ``embedding_outliers`` (SQL or Arrow kernel by corpus size, see
    :func:`_assign`); then ONE hash aggregation on (cell, label) — at most
    ``n_centroids × n_labels`` rows — and a second tiny aggregation per
    cell with a ``min_by`` majority election (map-side partials, no
    window). Vectors never shuffle; the exchanges carry count rows.
    """
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1: {n_centroids}")
    for c in (id_col, vec_col, label_col):
        if c not in corpus.columns:
            raise ValueError(f"column {c!r} not in {corpus.columns}")
    cent_vecs = _kmeans_centroids(corpus, id_col, vec_col, n_centroids)
    by_label = (
        _assign(corpus, vec_col, cents=cent_vecs)
        .select(F.col("__cell").alias("cell"), F.col(label_col))
        .groupBy("cell", label_col)
        .agg(F.count("*").alias("__cnt"))
    )
    election_key = F.struct(
        (-F.col("__cnt")).alias("__negc"), F.col(label_col).alias("__l")
    )
    return by_label.groupBy("cell").agg(
        F.sum("__cnt").cast("bigint").alias("n"),
        F.min_by(F.col(label_col), election_key).alias("majority_label"),
        F.max("__cnt").cast("bigint").alias("n_majority"),
        F.round(
            F.max("__cnt") / F.sum("__cnt"), 9
        ).alias("purity"),
    )


def knn_label(
    labeled: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    engine: str = "exact",
    **engine_opts,
) -> DataFrame:
    """kNN majority-vote label propagation: predict each query vector's
    label from its ``k`` nearest LABELED neighbors by cosine — the
    cheap curation classifier (domain tagging, quality-tier transfer,
    topic routing) that needs no trained model, only a labeled seed
    set and the embedding column the pipeline already carries.

    Neighbors come from :func:`cosine_topk` (exact, deterministic
    ``(cosine desc, neighbor_id asc)`` tie-break, cosine rounded to 6),
    so the prediction inherits its scale shape: the query set rides the
    kernel and the labeled corpus never shuffles — the k·|queries|
    neighbor rows broadcast into the label lookup, and the two exchanges
    carry ≤ k rows per (query, corpus batch) and the looked-up votes.
    The vote is one partial-agg count per (query, label); the winner is
    elected by ``(votes desc, label asc)`` — a total order, so the
    prediction is unique and replayable in SQL. ``engine="ivf"`` is the
    scale path past the broadcast budget: neighbors come from
    :func:`ivf_ann_topk` (deterministic k-means cells trained on the
    LABELED slice, ``n_centroids``/``n_probe`` via ``engine_opts``) —
    the candidate join touches ~n_probe/n_centroids of the labeled
    corpus per query, and because the quantizer is deterministic even
    the approximate vote has an exact oracle.

    Returns ``(id_col, label_col, n_votes, vote_frac)`` — one row per
    query; ``vote_frac`` = winner votes / neighbors found (< 1 when the
    vote splits, < k neighbors only when the labeled corpus is smaller
    than k), rounded to 9.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if label_col not in labeled.columns:
        raise ValueError(f"column {label_col!r} not in labeled frame")
    labels = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl")
    )
    if engine == "exact":
        nn = cosine_topk(
            labeled, queries, id_col=id_col, vec_col=vec_col, k=k,
            exclude_self=True,
        )
        # At most k neighbor rows per query broadcast, the labeled corpus
        # streams unshuffled, and one query-keyed exchange serves both
        # vote aggregations.
        joined = labels.join(F.broadcast(nn), on="neighbor_id").repartition(
            "query_id"
        )
    elif engine == "ivf":
        nn = ivf_ann_topk(
            labeled, queries, id_col=id_col, vec_col=vec_col, k=k,
            exclude_self=True, **engine_opts,
        )
        joined = nn.join(labels, on="neighbor_id")
    else:
        raise ValueError(f"engine must be 'exact' or 'ivf': {engine!r}")
    votes = joined.groupBy("query_id", "__lbl").agg(F.count("*").alias("__n"))
    election_key = F.struct(
        (-F.col("__n")).alias("__negn"), F.col("__lbl").alias("__l")
    )
    return (
        votes.groupBy("query_id")
        .agg(
            F.min_by(F.col("__lbl"), election_key).alias(label_col),
            F.max("__n").cast("bigint").alias("n_votes"),
            F.round(F.max("__n") / F.sum("__n"), 9).alias("vote_frac"),
        )
        .withColumnRenamed("query_id", id_col)
    )


def diversity_sample(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    per_cell: int = 100,
    seed: int = 42,
    skew_salt: int | None = None,
) -> DataFrame:
    """Coverage-preserving subsample in embedding space: cap every
    k-means cell at ``per_cell`` rows, so downsampling removes mass
    from DENSE regions first and rare content survives — the diversity
    counterweight to frequency-driven sampling (a uniform sample of a
    web corpus is mostly its head; this keeps the tail).

    Same deterministic k-means as ``ivf_ann_topk``/``embedding_outliers``
    (bounded driver-side training, so an oracle can re-derive the exact
    centroids), nearest-cell assignment MAP-SIDE (parsed SQL below a
    planned corpus size of 2 MiB, one vectorized Arrow distance matrix
    per batch above it, see :func:`_assign`), then
    :func:`~polars_nexpresso_spark.functions.sampling.cap_per_group`
    on the cell id — survivors are picked by the md5 id-hash total
    order, deterministic across runs, partitionings, and engines.

    Scale shape: assignment adds no exchange; the cap is one window
    shuffle keyed by cell. Cells = window partitions, so size
    ``n_centroids`` to the cluster (hundreds+ at 100 TB); for a
    pathologically hot cell pass ``skew_salt`` (the two-phase identical
    -result cap documented on ``cap_per_group``).

    Returns surviving rows with a ``cell`` column appended.
    """
    from polars_nexpresso_spark.functions.sampling import cap_per_group

    if per_cell < 1:
        raise ValueError(f"per_cell must be >= 1: {per_cell}")
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1: {n_centroids}")
    if id_col not in corpus.columns or vec_col not in corpus.columns:
        raise ValueError(
            f"columns {id_col!r}/{vec_col!r} not both in {corpus.columns}"
        )
    cent_vecs = _kmeans_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = (
        _assign(corpus, vec_col, cents=cent_vecs)
        .withColumn("cell", F.col("__cell"))
        .drop("__cell")
    )
    return cap_per_group(
        assigned, "cell", id_col, max_n=per_cell, seed=seed,
        skew_salt=skew_salt,
    )


_MMR_ID_TYPES = {
    "tinyint": "long",
    "smallint": "long",
    "int": "long",
    "bigint": "long",
    "string": "string",
}


def _mmr_id_sql_type(df: DataFrame, id_col: str) -> str:
    """Validate the id column's dtype for MMR and return the OUTPUT SQL
    type it maps to (integrals widen to long; strings stay strings).
    Anything else fails fast with a clear message instead of an opaque
    numpy/createDataFrame error downstream."""
    if id_col not in df.columns:
        raise ValueError(f"column {id_col!r} not in {df.columns}")
    dtype = dict(df.dtypes)[id_col]
    out = _MMR_ID_TYPES.get(dtype)
    if out is None:
        raise ValueError(
            f"mmr_rerank supports integral or string id columns; "
            f"{id_col!r} is {dtype!r}"
        )
    return out


def _mmr_greedy(ids, mat, query_vec, k: int, lam: float):
    """The sequential MMR kernel shared by the driver-side
    :func:`mmr_rerank` and the per-query groups of
    :func:`mmr_rerank_by_query` (batch==driver parity is test-pinned on
    this sharing). ``ids`` is a sequence of python id values (int or
    str), ``mat`` an ``(n, dim)`` float array. Returns
    ``[(id, mmr_score, rank), ...]`` in selection order — ties break by
    id asc, scores round to 6, exactly the documented contract."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    qv = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(qv)
    rel = unit @ (qv / (qn if qn > 0 else 1.0))

    n = len(ids)
    out = []
    max_sim = np.full(n, -np.inf)
    remaining = np.ones(n, dtype=bool)
    for rank in range(1, min(k, n) + 1):
        penalty = np.where(np.isfinite(max_sim), max_sim, 0.0)
        score = lam * rel - (1.0 - lam) * penalty
        score = np.round(score, 6)
        # argmax with id-asc tie-break among remaining
        best, best_key = None, None
        for i in np.flatnonzero(remaining):
            key = (-score[i], ids[i])
            if best_key is None or key < best_key:
                best, best_key = int(i), key
        remaining[best] = False
        out.append((ids[best], float(score[best]), rank))
        max_sim = np.maximum(max_sim, unit @ unit[best])
    return out


def mmr_rerank(
    candidates: DataFrame,
    query_vec,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.5,
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal-marginal-relevance rerank of a BOUNDED candidate set:
    greedily pick the candidate maximizing
    ``lam * cos(query, d) - (1 - lam) * max_{s in selected} cos(d, s)``
    — the classic diversification step between retrieval and
    consumption (RAG context assembly, near-dup-heavy search results):
    pure top-k hands back five copies of the same passage; MMR trades
    a little relevance for coverage. ``lam=1`` reduces to relevance
    order; lower values spread harder.

    MMR is inherently SEQUENTIAL (each pick conditions on the previous
    ones), so it runs on the driver over the candidate set — which an
    upstream :func:`cosine_topk` / :func:`ivfpq_rerank` has already
    bounded to k-ish rows; ``max_candidates`` fail-fasts if someone
    points it at a corpus. This is the standard split: the CLUSTER
    bounds candidates, the driver orders the shortlist (O(k·N) dots on
    a few thousand rows — microseconds next to one shuffle). Ties break
    by id asc; scores round to 6, so reruns and engines agree.

    Returns ``(id_col, mmr_score, rank)`` — ``rank`` 1-based selection
    order, ``mmr_score`` the criterion value at selection time (the
    first pick's score is ``lam * cos(query, d)``; diversity penalty 0).
    ``id_col`` must be integral (returned as long) or string (returned
    as string); other dtypes fail fast. For MANY queries at once use
    :func:`mmr_rerank_by_query` — same kernel, one group per query,
    fully distributed.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    id_type = _mmr_id_sql_type(candidates, id_col)
    rows = candidates.select(F.col(id_col), F.col(vec_col)).collect()
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank orders the candidate set on the driver; got "
            f"{len(rows)} rows > max_candidates={max_candidates}. Bound "
            "the candidates with cosine_topk / the ANN engines first."
        )
    if not rows:
        raise ValueError("candidates is empty")
    ids = [r[0] for r in rows]
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    out = _mmr_greedy(ids, mat, query_vec, k, lam)
    spark = candidates.sparkSession
    return spark.createDataFrame(
        out, f"{id_col} {id_type}, mmr_score double, rank int"
    )


def mmr_rerank_by_query(
    candidates: DataFrame,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.5,
    max_candidates_per_query: int = 10_000,
) -> DataFrame:
    """Distributed many-query MMR: :func:`mmr_rerank` for a PIPELINE —
    thousands of retrieval queries each carrying their own bounded
    candidate shortlist (the batch half of RAG context assembly, or
    diversifying every result page of an offline eval set in one job).
    ``candidates`` holds ``(query_id_col, id_col, vec_col)`` shortlist
    rows (an upstream :func:`ivf_ann_topk` / :func:`cosine_topk` output
    keyed by query); ``queries`` holds one ``(query_id_col,
    query_vec_col)`` row per query.

    Scale shape: the query vector joins onto its shortlist BY QUERY ID
    and the greedy kernel runs per query group via ``applyInPandas`` —
    the join and the groupBy hash the SAME key, so Catalyst plans ONE
    exchange for both, and each group is shortlist-sized (k-ish rows)
    by construction. MMR stays inherently sequential, but only WITHIN a
    query; across queries it is embarrassingly parallel, which is
    exactly what the grouped kernel exploits. The kernel is the SAME
    function the driver-side :func:`mmr_rerank` runs
    (:func:`_mmr_greedy` — parity is test-pinned), so per-query results
    are identical to calling :func:`mmr_rerank` once per query.
    ``max_candidates_per_query`` fail-fasts inside the task if a group
    arrives unbounded (someone keyed a corpus, not a shortlist).

    Returns ``(query_id_col, id_col, mmr_score, rank)`` — same contract
    as :func:`mmr_rerank` per query; queries with no candidate rows
    yield no output rows. Id and query-id columns must be integral
    (returned as long) or string; other dtypes fail fast.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    for col, frame, name in (
        (query_id_col, candidates, "candidates"),
        (id_col, candidates, "candidates"),
        (vec_col, candidates, "candidates"),
        (query_id_col, queries, "queries"),
        (query_vec_col, queries, "queries"),
    ):
        if col not in frame.columns:
            raise ValueError(f"column {col!r} not in {name}: {frame.columns}")
    id_type = _mmr_id_sql_type(candidates, id_col)
    qid_type = _mmr_id_sql_type(candidates, query_id_col)
    # The queries side must carry the SAME query-id type class: an
    # unsupported or mismatched dtype (e.g. double) would otherwise
    # join via a silent implicit cast instead of failing fast.
    qid_type_q = _mmr_id_sql_type(queries, query_id_col)
    if qid_type_q != qid_type:
        raise ValueError(
            f"mmr_rerank_by_query: {query_id_col!r} dtype differs "
            f"between candidates ({qid_type}) and queries "
            f"({qid_type_q}); cast one side explicitly"
        )
    import numpy as np
    import pandas as pd

    joined = candidates.select(
        F.col(query_id_col), F.col(id_col), F.col(vec_col).alias("__vec")
    ).join(
        queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
        ),
        on=query_id_col,
    )
    out_schema = (
        f"{query_id_col} {qid_type}, {id_col} {id_type}, "
        "mmr_score double, rank int"
    )

    def _per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_candidates_per_query:
            raise ValueError(
                f"mmr_rerank_by_query got {len(pdf)} candidates for "
                f"query {pdf[query_id_col].iloc[0]!r} > "
                f"max_candidates_per_query={max_candidates_per_query}. "
                "Bound each query's candidates with an ANN engine first."
            )
        ids = list(pdf[id_col])
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
        )
        picks = _mmr_greedy(ids, mat, pdf["__qvec"].iloc[0], k, lam)
        qid = pdf[query_id_col].iloc[0]
        return pd.DataFrame(
            [(qid, i, s, r) for i, s, r in picks],
            columns=[query_id_col, id_col, "mmr_score", "rank"],
        )

    return joined.groupBy(query_id_col).applyInPandas(_per_query, out_schema)


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int,
) -> DataFrame:
    """Distribution-drift report between two corpus slices in embedding
    space: per label, the cosine between the slices' centroids and the
    euclidean centroid shift — the cheap "did the new crawl move under
    us" check run between ingests (a label whose centroid rotated or
    travelled signals content drift, encoder change, or a poisoned
    source) before retraining quantizers or refreshing ANN indexes.

    Both sides reduce through :func:`label_centroids` (ONE hash
    aggregation each; the shuffle carries ``n_labels × (dim + 1)``
    doubles, never vectors, map-side partials; centroids round to 6 —
    the cross-engine contract), then the comparison is a join + one
    aggregation over ``n_labels × dim`` centroid ROWS — bounded by the
    label vocabulary, not the corpus. Labels present in only one slice
    are dropped (drift is undefined there); per-slice row counts ride
    two count aggs.

    Returns ``(label, n_a, n_b, centroid_cosine, centroid_shift)`` —
    cosine rounded to 6 (NULL when either centroid is the zero
    vector), shift (L2) rounded to 6.
    """
    ca = label_centroids(a, vec_col=vec_col, label_col=label_col, dim=dim)
    cb = label_centroids(
        b, vec_col=vec_col, label_col=label_col, dim=dim
    ).withColumnRenamed("centroid", "__cb")
    joined = ca.join(cb, on=["label", "dim"])
    stats = joined.groupBy("label").agg(
        F.sum(F.col("centroid") * F.col("__cb")).alias("__dot"),
        F.sum(F.col("centroid") * F.col("centroid")).alias("__na2"),
        F.sum(F.col("__cb") * F.col("__cb")).alias("__nb2"),
        F.sum(
            (F.col("centroid") - F.col("__cb"))
            * (F.col("centroid") - F.col("__cb"))
        ).alias("__d2"),
    )
    counts_a = a.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_a")
    )
    counts_b = b.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_b")
    )
    denom = F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2"))
    return (
        stats.join(counts_a, on="label")
        .join(counts_b, on="label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("__dot") / F.when(denom > 0, denom), 6
            ).alias("centroid_cosine"),
            F.round(F.sqrt(F.col("__d2")), 6).alias("centroid_shift"),
        )
    )


def intra_list_similarity(
    ranked: DataFrame,
    vectors: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean pairwise cosine WITHIN each query's ranked list — the
    diversity metric that justifies (or indicts) a diversification
    stage: pure relevance top-k over a near-dup-heavy corpus scores
    high intra-list similarity (five copies of one passage), and the
    whole point of :func:`mmr_rerank_by_query` is to push this number
    DOWN at a bounded relevance cost. The eval twin of
    :func:`ann_recall_eval`, run as a distributed op (never a driver
    loop over queries).

    ``ranked`` holds ``(query_id_col, id_col)`` list rows (ranks
    ignored — the metric is order-free); duplicate ``(query, id)`` rows
    are de-duplicated first, so ``n_items``/``n_pairs`` stay consistent
    (a duplicate id would otherwise inflate ``n_items`` while the
    ``id_a < id_b`` pairing silently excluded it — r10 advice).
    ``vectors`` maps ``id_col`` to ``vec_col``; zero-norm vectors clamp
    the norm to 1.0 exactly like the MMR kernel (cosine 0 against
    everything) rather than NULLing the pair out of the AVG while
    ``n_pairs`` still counts it. Scale shape: vectors join onto list
    rows by id, then a WITHIN-QUERY self-join on ``id_a < id_b`` —
    candidate pairs are bounded by k² per query by construction, and
    the join + grouping hash the same query key. Lists with fewer than
    2 items yield NULL (no pairs).

    Returns ``(query_id_col, n_items, n_pairs, mean_pairwise_cosine)``
    — cosine rounded to 6 per pair (the cross-engine contract), mean
    rounded to 9.
    """
    for col, frame, name in (
        (query_id_col, ranked, "ranked"),
        (id_col, ranked, "ranked"),
        (id_col, vectors, "vectors"),
        (vec_col, vectors, "vectors"),
    ):
        if col not in frame.columns:
            raise ValueError(f"column {col!r} not in {name}: {frame.columns}")
    lists = (
        ranked.select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
        .join(
            vectors.select(
                F.col(id_col),
                F.col(vec_col).alias("__v"),
                _norm(F.col(vec_col)).alias("__n"),
            ),
            on=id_col,
        )
    )
    a, b = (
        lists.select(
            F.col(query_id_col),
            F.col(id_col).alias(f"__id{s}"),
            F.col("__v").alias(f"__v{s}"),
            F.col("__n").alias(f"__n{s}"),
        )
        for s in "ab"
    )
    pairs = a.join(b, on=query_id_col).filter(F.col("__ida") < F.col("__idb"))
    cos = _cosine("__va", "__vb", "__na", "__nb")
    counts = lists.groupBy(query_id_col).agg(
        F.count("*").cast("bigint").alias("n_items")
    )
    stats = pairs.select(query_id_col, cos.alias("__cos")).groupBy(
        query_id_col
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("__cos"), 9).alias("mean_pairwise_cosine"),
    )
    return counts.join(stats, on=query_id_col, how="left").select(
        query_id_col,
        "n_items",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint")).alias(
            "n_pairs"
        ),
        "mean_pairwise_cosine",
    )
