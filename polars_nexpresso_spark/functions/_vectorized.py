"""Arrow-batched (pandas_udf) vector kernels for the similarity module.

Lives in its own module WITHOUT ``from __future__ import annotations``:
pandas_udf infers its eval type from the *evaluated* type hints, and the
future import would turn them into unresolvable strings.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def pandas_nearest_cell_dist(centroids):
    """UDF returning ``struct<cell:int, dist:double>`` — the nearest
    centroid index AND the euclidean distance to it — in one vectorized
    distance computation per Arrow batch. Ties resolve to the lowest
    index (first-occurrence argmin), matching the SQL form's (distance,
    index) struct sort."""
    cent = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @pandas_udf("struct<cell:int, dist:double>")
    def cell_dist(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_list()).astype(np.float64)
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
        best = d.argmin(axis=1)  # argmin is first-occurrence on ties
        return pd.DataFrame(
            {
                "cell": best.astype(np.int32),
                "dist": np.sqrt(d[np.arange(len(best)), best]),
            }
        )

    return cell_dist


def pandas_member_overlap(sorted_values):
    """UDF factory: True when ANY element of a row's long-array column is
    in ``sorted_values`` (a sorted numpy int64 array held in the closure).
    One searchsorted per Arrow batch row — O(s log m), no per-row set
    construction. Used by the stream-safe decontaminator."""
    import numpy as np

    ref = np.asarray(sorted_values, dtype=np.int64)

    @pandas_udf("boolean")
    def overlaps(arrs: pd.Series) -> pd.Series:
        if ref.size == 0:
            return pd.Series([False] * len(arrs))
        # Vectorized across the Arrow batch: one searchsorted over the
        # flattened shingle arrays, then per-row any() via reduceat.
        # NULL text → NULL shingle array: no overlap, matching the batch
        # decontaminate path, whose explode() silently keeps null-text
        # docs ("identical survivors" contract).
        out = np.zeros(len(arrs), dtype=bool)
        rows = [
            (i, np.asarray(hs, dtype=np.int64))
            for i, hs in enumerate(arrs)
            if hs is not None and len(hs) > 0
        ]
        if rows:
            lens = np.array([len(a) for _, a in rows])
            flat = np.concatenate([a for _, a in rows])
            idx = np.searchsorted(ref, flat)
            idx[idx == ref.size] = ref.size - 1
            hits = ref[idx] == flat
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out[[i for i, _ in rows]] = np.logical_or.reduceat(hits, starts)
        return pd.Series(out)

    return overlaps


def pandas_keep_lines(boiler_lines):
    """UDF factory: filter a string-array column against a fixed line
    set (frozenset in the closure) — the large-set branch of
    ``remove_fixed_boilerplate``, one hashed-set probe per element per
    Arrow batch instead of an O(set) codegen array_contains scan.
    NULL arrays yield NULL."""
    ref = frozenset(boiler_lines)

    @pandas_udf("array<string>")
    def keep(arrs: pd.Series) -> pd.Series:
        return arrs.map(
            lambda a: None
            if a is None
            else [x for x in a if x not in ref]
        )

    return keep


def pandas_lm_score(gram_hashes, gram_counts, prefix_hashes, prefix_counts,
                    vocab_size, k):
    """UDF factory for the stream-safe LM scorer: per row, look up each
    gram/prefix hash in the sorted reference dictionaries (searchsorted,
    misses count 0) and return the mean of -ln((c2+k)/(c1+k*V)). NULL
    gram arrays (null text) and empty arrays yield NULL."""
    gh = np.asarray(gram_hashes, dtype=np.int64)
    gc = np.asarray(gram_counts, dtype=np.float64)
    ph = np.asarray(prefix_hashes, dtype=np.int64)
    pc = np.asarray(prefix_counts, dtype=np.float64)
    kv = float(k) * float(vocab_size)
    kk = float(k)

    def _lookup(sorted_keys, vals, keys):
        if sorted_keys.size == 0:
            return np.zeros(len(keys), dtype=np.float64)
        idx = np.searchsorted(sorted_keys, keys)
        idx[idx == sorted_keys.size] = sorted_keys.size - 1
        out = vals[idx]
        out[sorted_keys[idx] != keys] = 0.0
        return out

    @pandas_udf("double")
    def score(g_arrs: pd.Series, p_arrs: pd.Series) -> pd.Series:
        # Vectorized across the whole Arrow batch: flatten every valid
        # row's gram arrays, do ONE searchsorted per dictionary, then
        # segment-mean back per row with add.reduceat — the per-row
        # Python loop was the scoring hot spot at corpus scale.
        out = np.full(len(g_arrs), np.nan)
        rows = [
            (i, np.asarray(gs, dtype=np.int64), np.asarray(ps, dtype=np.int64))
            for i, (gs, ps) in enumerate(zip(g_arrs, p_arrs))
            if gs is not None and ps is not None and len(gs) > 0
        ]
        if rows:
            lens = np.array([len(g) for _, g, _ in rows])
            g_flat = np.concatenate([g for _, g, _ in rows])
            p_flat = np.concatenate([p for _, _, p in rows])
            c2 = _lookup(gh, gc, g_flat)
            c1 = _lookup(ph, pc, p_flat)
            nlp = -np.log((c2 + kk) / (c1 + kv))
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            means = np.round(np.add.reduceat(nlp, starts) / lens, 6)
            out[[i for i, _, _ in rows]] = means
        return pd.Series(out, dtype="float64")

    return score


def pandas_unicode_normalize(form: str):
    """UDF factory: Unicode-normalize a string column per Arrow batch
    (``unicodedata.normalize``). No JVM builtin covers this; the Python
    stdlib call is cheap relative to Arrow transfer and the operator
    stays stateless/stream-safe."""
    import unicodedata

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return norm


def pandas_nb_score(token_hashes, log_odds):
    """UDF factory for the stream-safe naive-Bayes scorer: per row, look
    up each token hash in the sorted model dictionary (searchsorted,
    OOV = 0.0 — neutral) and return the mean log-odds rounded to 6.
    NULL/empty token arrays yield NULL."""
    th = np.asarray(token_hashes, dtype=np.int64)
    lo = np.asarray(log_odds, dtype=np.float64)

    def _lookup(keys):
        if th.size == 0:
            return np.zeros(len(keys), dtype=np.float64)
        idx = np.searchsorted(th, keys)
        idx[idx == th.size] = th.size - 1
        out = lo[idx].copy()
        out[th[idx] != keys] = 0.0
        return out

    @pandas_udf("double")
    def score(t_arrs: pd.Series) -> pd.Series:
        out = np.full(len(t_arrs), np.nan)
        rows = [
            (i, np.asarray(ts, dtype=np.int64))
            for i, ts in enumerate(t_arrs)
            if ts is not None and len(ts) > 0
        ]
        if rows:
            lens = np.array([len(t) for _, t in rows])
            flat = np.concatenate([t for _, t in rows])
            vals = _lookup(flat)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            means = np.round(np.add.reduceat(vals, starts) / lens, 6)
            out[[i for i, _ in rows]] = means
        return pd.Series(out, dtype="float64")

    return score


def pandas_member_count(sorted_values):
    """UDF factory: how many elements of a row's long-array column are
    in ``sorted_values`` (sorted numpy int64 in the closure) — the
    COUNTING sibling of :func:`pandas_member_overlap`, same one
    searchsorted per Arrow batch with a per-row sum instead of any().
    NULL arrays → NULL (the caller decides the empty-document rule).
    Used by the stream-safe OOV annotator."""
    import numpy as np

    ref = np.asarray(sorted_values, dtype=np.int64)

    @pandas_udf("long")
    def in_count(arrs: pd.Series) -> pd.Series:
        out: list = [None] * len(arrs)
        rows = [
            (i, np.asarray(hs, dtype=np.int64))
            for i, hs in enumerate(arrs)
            if hs is not None
        ]
        nonempty = [(i, a) for i, a in rows if a.size > 0]
        for i, _ in rows:
            out[i] = 0
        if nonempty and ref.size:
            # one searchsorted over the flattened arrays, per-row sums
            # via reduceat — the member_overlap shape, counting edition
            lens = np.array([a.size for _, a in nonempty])
            flat = np.concatenate([a for _, a in nonempty])
            idx = np.searchsorted(ref, flat)
            idx[idx == ref.size] = ref.size - 1
            hits = (ref[idx] == flat).astype(np.int64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sums = np.add.reduceat(hits, starts)
            for (i, _), s in zip(nonempty, sums):
                out[i] = int(s)
        return pd.Series(out, dtype="object")

    return in_count


def pandas_scalar_member(sorted_values):
    """UDF factory: True when a row's SCALAR long column is in
    ``sorted_values`` (sorted numpy int64, held in the closure). The
    scalar sibling of :func:`pandas_member_overlap` — one searchsorted
    over the whole Arrow batch, no per-row work at all.

    CONTRACT: the input column must be NON-NULL (callers coalesce to a
    filler first) — a null-bearing long column crosses Arrow→pandas as
    float64, which silently corrupts 64-bit hash values above 2^53.
    Used by the stream-safe reference-corpus dedup."""
    import numpy as np

    ref = np.asarray(sorted_values, dtype=np.int64)

    @pandas_udf("boolean")
    def member(vals: pd.Series) -> pd.Series:
        if ref.size == 0:
            return pd.Series([False] * len(vals))
        v = vals.to_numpy()
        if v.dtype != np.int64:  # defensive: see non-null contract
            v = vals.fillna(0).astype(np.int64).to_numpy()
        idx = np.searchsorted(ref, v)
        idx[idx == ref.size] = ref.size - 1
        return pd.Series(ref[idx] == v)

    return member


def pandas_band_near_dup(band_keys, starts, sig_matrix, min_agree):
    """UDF factory for the stream-safe near-dup probe against a
    persisted dedup-index SNAPSHOT (:func:`~polars_nexpresso_spark
    .functions.dedup.dedup_against_index_stream`): the index's LSH
    band table, CSR-packed in the closure — ``band_keys`` sorted unique
    keys, ``starts[i]`` the first row of key ``i``'s candidate block in
    ``sig_matrix`` (rows sorted by key). Per row: searchsorted each of
    the document's band keys; any hit's candidate signatures compare
    component-wise against the document's signature, and the row is a
    near-dup when some candidate agrees on ``>= min_agree`` minhash
    components — exactly the batch probe's estimated-Jaccard decision.

    NULL band-key/signature rows (NULL text upstream) return False —
    such rows always survive dedup."""
    keys = np.asarray(band_keys, dtype=np.int64)
    sigs = np.asarray(sig_matrix, dtype=np.int64)
    if sigs.ndim != 2:
        sigs = sigs.reshape(0, 1)
    st = np.asarray(starts, dtype=np.int64)
    ends = np.append(st[1:], sigs.shape[0]) if st.size else st

    @pandas_udf("boolean")
    def near(bkeys: pd.Series, psigs: pd.Series) -> pd.Series:
        out = np.zeros(len(bkeys), dtype=bool)
        if keys.size:
            for i, (bk, ps) in enumerate(zip(bkeys, psigs)):
                if bk is None or ps is None:
                    continue
                bka = np.asarray(bk, dtype=np.int64)
                idx = np.searchsorted(keys, bka)
                idx[idx == keys.size] = keys.size - 1
                hits = idx[keys[idx] == bka]
                if hits.size == 0:
                    continue
                psa = np.asarray(ps, dtype=np.int64)
                for j in np.unique(hits):
                    cands = sigs[st[j] : ends[j]]
                    if (cands == psa).sum(axis=1).max() >= min_agree:
                        out[i] = True
                        break
        return pd.Series(out)

    return near


@pandas_udf("double")
def pandas_compression_ratio(texts: pd.Series) -> pd.Series:
    """deflate(utf-8 bytes) size / raw size per row (zlib level 6).
    Arrow-batched — no JVM compression expression exists. NULL and
    empty text → NULL (ratio undefined)."""
    import zlib

    out = []
    for t in texts:
        if t is None or len(t) == 0:
            out.append(None)
            continue
        raw = t.encode("utf-8")
        out.append(len(zlib.compress(raw, 6)) / len(raw))
    return pd.Series(out, dtype="float64")


def pandas_pq_codes(codebooks):
    """UDF factory: product-quantization codes — for each vector, the
    nearest-codeword index per subspace (m-entry int array). The vector
    is L2-normalized and sub-sliced in numpy; one vectorized distance
    computation per (batch, subspace). Ties take the lowest index
    (stable argsort), matching the SQL/oracle tie-break."""
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    @pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_list()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        parts = []
        off = 0
        for cb in cbs:
            sub = mat[:, off : off + cb.shape[1]]
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=-1)
            parts.append(
                np.argsort(d, axis=1, kind="stable")[:, 0].astype(np.int32)
            )
            off += cb.shape[1]
        arr = np.stack(parts, axis=1)
        return pd.Series(list(arr))

    return codes


def pandas_ivfpq_residual_codes(centroids, chat, codebooks):
    """UDF factory for the residual IVF-PQ corpus side: one
    ``struct<cell:int, codes:array<int>>`` per vector — the raw-space
    nearest coarse cell AND the per-subspace nearest codeword of the
    UNIT-space residual ``u - ĉ[cell]`` (standard IVF-PQ). One
    vectorized distance computation per (batch, subspace); ties take
    the lowest index, matching the SQL/oracle tie-break."""
    cent = np.asarray(centroids, dtype=np.float64)  # (k, dim) raw
    ch = np.asarray(chat, dtype=np.float64)  # (k, dim) unit
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    @pandas_udf("struct<cell:int, codes:array<int>>")
    def cell_codes(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_list()).astype(np.float64)
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
        cell = d.argmin(axis=1)  # first occurrence on ties
        norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        res = mat / norms - ch[cell]
        parts = []
        off = 0
        for cb in cbs:
            sub = res[:, off : off + cb.shape[1]]
            sd = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=-1)
            parts.append(
                np.argsort(sd, axis=1, kind="stable")[:, 0].astype(np.int32)
            )
            off += cb.shape[1]
        arr = np.stack(parts, axis=1)
        return pd.DataFrame(
            {"cell": cell.astype(np.int32), "codes": list(arr)}
        )

    return cell_codes


def pandas_bloom_member(bits):
    """UDF factory: True when EVERY bit position in a row's
    ``array<long>`` column is set in the packed Bloom bitmap (int64
    words, held in the closure — num_bits/8 bytes per executor). One
    vectorized gather per row's k positions; positions are computed
    JVM-side so Python never hashes. NULL position arrays return False
    (callers route the NULL-text keep-decision around the probe)."""
    import numpy as np

    words = np.asarray(bits, dtype=np.int64)

    @pandas_udf("boolean")
    def member(positions: pd.Series) -> pd.Series:
        out = np.zeros(len(positions), dtype=bool)
        for i, ps in enumerate(positions):
            if ps is None:
                continue
            p = np.asarray(ps, dtype=np.int64)
            out[i] = bool(
                np.bitwise_and(words[p >> 6] >> (p & 63), 1).all()
            )
        return pd.Series(out)

    return member


def pandas_bloom_any_member(bits, num_hashes: int):
    """UDF factory: True when ANY of a row's shingles is (probably) in
    the packed Bloom bitmap. The row column is the FLATTENED positions
    array (``num_hashes`` consecutive longs per shingle, concatenated
    JVM-side) — one reshape + two vectorized gathers per row, no
    per-shingle Python. Empty/NULL position arrays return False."""
    import numpy as np

    words = np.asarray(bits, dtype=np.int64)
    k = int(num_hashes)

    @pandas_udf("boolean")
    def member(flat: pd.Series) -> pd.Series:
        out = np.zeros(len(flat), dtype=bool)
        for i, ps in enumerate(flat):
            if ps is None or len(ps) == 0:
                continue
            p = np.asarray(ps, dtype=np.int64).reshape(-1, k)
            out[i] = bool(
                np.bitwise_and(words[p >> 6] >> (p & 63), 1)
                .all(axis=1)
                .any()
            )
        return pd.Series(out)

    return member


@pandas_udf("double")
def pandas_pair_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise Jaccard |A∩B| / |A∪B| of two SORTED-distinct long-array
    columns — the pairwise joint-scoring slot of the cross-encoder
    rerank cascade (a real model would consume the raw pair here with
    the same Arrow batch shape). assume_unique lets np.intersect1d
    skip its per-array dedup pass (it still concatenates and sorts the
    pair internally); both-empty pairs score 0.0, a NULL side scores
    NULL (no text, no judgment) — the contract the DuckDB oracles
    mirror with a CASE WHEN both-len-0 THEN 0.0 branch over
    empty-token-filtered hash sets. Rounded to 6 (the cross-engine
    float contract)."""
    out = np.full(len(a), np.nan)
    for i, (xa, xb) in enumerate(zip(a.to_list(), b.to_list())):
        if xa is None or xb is None:
            continue
        na, nb = len(xa), len(xb)
        if na == 0 and nb == 0:
            out[i] = 0.0
            continue
        inter = np.intersect1d(
            np.asarray(xa, dtype=np.int64),
            np.asarray(xb, dtype=np.int64),
            assume_unique=True,
        ).size
        out[i] = round(inter / (na + nb - inter), 6)
    return pd.Series(out)
