"""Corpus-analysis operators: vocab_topk, tfidf_keywords, label_centroids."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from polars_nexpresso_spark.functions import similarity
from polars_nexpresso_spark.functions.similarity import label_centroids
from polars_nexpresso_spark.functions.text import tfidf_keywords, vocab_topk


def test_vocab_topk_counts_and_tiebreak(spark):
    df = spark.createDataFrame(
        [("b b a",), ("a c b",), ("",)], "text string"
    )
    got = [(r["token"], r["count"], r["rank"]) for r in vocab_topk(df, "text", k=2).collect()]
    # a:2, b:3, c:1 → b first, then a; empty text contributes nothing
    assert got == [("b", 3, 1), ("a", 2, 2)]


def test_vocab_topk_ties_break_lexically(spark):
    df = spark.createDataFrame([("z y",), ("y z",)], "text string")
    got = [(r["token"], r["rank"]) for r in vocab_topk(df, "text", k=5).collect()]
    assert got == [("y", 1), ("z", 2)]


def test_tfidf_rare_term_wins(spark):
    # "rare" appears in one doc only — it must outrank the everywhere-token
    # "the" for that doc despite equal tf.
    df = spark.createDataFrame(
        [(1, "the rare"), (2, "the common"), (3, "the common")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): (r["token"], r["tfidf"])
        for r in tfidf_keywords(df, "text", "doc_id", top_n=2).collect()
    }
    assert out[(1, 1)][0] == "rare"
    n, df_rare, tf = 3, 1, 1
    expected = round(tf * (math.log((n + 1) / (df_rare + 1)) + 1), 6)
    assert abs(out[(1, 1)][1] - expected) < 1e-9
    assert out[(1, 2)][0] == "the"


def test_tfidf_rank_is_dense_per_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a a b")], "doc_id long, text string"
    )
    out = tfidf_keywords(df, "text", "doc_id", top_n=3)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r["doc_id"], []).append(r["rank"])
    for ranks in per_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_label_centroids_elementwise_mean(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]),
            (0, [3.0, 4.0]),
            (1, [10.0, 20.0]),
        ],
        "label int, embedding array<float>",
    )
    got = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, dim=2).collect()
    }
    assert got == {
        (0, 0): 2.0,
        (0, 1): 3.0,
        (1, 0): 10.0,
        (1, 1): 20.0,
    }


def test_label_centroids_single_aggregation_plan(spark):
    """The plan must be ONE hash aggregate over the input (map-side partial
    + final), with no explode/generate before the aggregation — the shuffle
    carries labels × (dim+1) doubles, not rows × dim exploded elements."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "label int, embedding array<float>"
    )
    plan = label_centroids(df, dim=2)._jdf.queryExecution().executedPlan().toString()
    gen_pos = plan.find("Generate")
    agg_pos = plan.rfind("HashAggregate")
    assert agg_pos != -1
    # the only Generate (posexplode of the ≤labels-sized means) sits ABOVE
    # the aggregation in the plan tree (earlier in the printed string)
    assert gen_pos == -1 or gen_pos < agg_pos


def test_group_percentiles_exact_interpolation(spark):
    from polars_nexpresso_spark.functions.text import group_percentiles

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]] + [("b", 100)]
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        r["group"]: (r["p_50"], r["p_90"], r["p_99"])
        for r in group_percentiles(df, "v", "grp").collect()
    }
    # linear interpolation: p50 of 1..10 = 5.5; p90 = 9.1; p99 = 9.91
    assert got["a"] == (5.5, 9.1, 9.91)
    assert got["b"] == (100.0, 100.0, 100.0)


def test_group_percentiles_approx_mode_close(spark):
    from polars_nexpresso_spark.functions.text import group_percentiles

    rows = [("a", float(v)) for v in range(10000)]
    df = spark.createDataFrame(rows, "grp string, v double")
    exact = group_percentiles(df, "v", "grp").collect()[0]
    approx = group_percentiles(df, "v", "grp", approx=True).collect()[0]
    for c in ("p_50", "p_90", "p_99"):
        assert abs(exact[c] - approx[c]) / max(exact[c], 1.0) < 0.02


def test_label_centroids_explode_fallback_matches_expr_path(
    spark, monkeypatch
):
    """Above _MAX_EXPR_DIMS the implementation switches to the exploded
    aggregation; both paths must produce identical (label, dim, centroid)
    rows."""
    import random

    rng = random.Random(11)
    rows = [
        (i % 3, [float(rng.randint(0, 100)) / 4 for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    a = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, dim=8).collect()
    }
    monkeypatch.setattr(similarity, "_MAX_EXPR_DIMS", 4)
    b = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, dim=8).collect()
    }
    assert a == b


def test_ngram_lm_score_hand_computed(spark):
    """Exact value on a 2-doc corpus, computed by hand.

    Corpus: d1 = "a b a b", d2 = "a b". Bigram multiset: d1 -> [ab, ba,
    ab], d2 -> [ab]. Counts: c2(ab)=3, c2(ba)=1; prefix counts c1(a)=3,
    c1(b)=1; V=2 (tokens a, b). k=0.5:
      P(ab) = (3+0.5)/(3+1) = 0.875,  P(ba) = (1+0.5)/(1+1) = 0.75
    d1 score = -(2 ln .875 + ln .75)/3, d2 score = -ln .875.
    """
    import math

    from polars_nexpresso_spark.functions.text import ngram_lm_score

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["avg_neg_logp"])
        for r in ngram_lm_score(df, "text", "doc_id", n=2, k=0.5).collect()
    }
    d1 = -(2 * math.log(0.875) + math.log(0.75)) / 3
    d2 = -math.log(0.875)
    assert got[1] == (3, round(d1, 6))
    assert got[2] == (1, round(d2, 6))


def test_ngram_lm_score_external_reference(spark):
    """Training on a reference corpus: grams unseen in the reference get
    the c=0 smoothed floor, so an out-of-distribution doc scores strictly
    higher than an in-distribution one."""
    from polars_nexpresso_spark.functions.text import ngram_lm_score

    reference = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zyx wvu tsr")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in ngram_lm_score(
            docs, "text", "doc_id", n=2, k=0.5, reference=reference
        ).collect()
    }
    assert got[2] > got[1]


def test_ngram_lm_score_no_python_stages(spark):
    """The whole scorer is expression-level: no Python eval in the plan."""
    from polars_nexpresso_spark.functions.text import ngram_lm_score

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = df.sparkSession._jvm.PythonSQLUtils.explainString(
        ngram_lm_score(df, "text", "doc_id")._jdf.queryExecution(),
        "formatted",
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ngram_lm_score_stream_matches_batch_reference_mode(spark):
    """The broadcast-dictionary probe scores every doc identically to the
    batch join path trained on the same reference."""
    from polars_nexpresso_spark.functions.text import (
        ngram_lm_score,
        ngram_lm_score_stream,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    reference = docs.filter(F.col("doc_id") < 250)
    batch = {
        r["doc_id"]: (r["n_grams"], r["avg_neg_logp"])
        for r in ngram_lm_score(
            docs, "text", "doc_id", n=2, k=0.5, reference=reference
        ).collect()
    }
    stream_shape = {
        r["doc_id"]: (r["n_grams"], r["avg_neg_logp"])
        for r in ngram_lm_score_stream(
            docs, reference, "text", n=2, k=0.5
        )
        .select("doc_id", "n_grams", "avg_neg_logp")
        .collect()
    }
    assert stream_shape == batch


def test_ngram_lm_score_stream_on_actual_stream(spark):
    """Runs on a real readStream (availableNow drain): stateless, no
    watermark, scores equal the static run."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.text import ngram_lm_score_stream
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    reference = docs.filter(F.col("doc_id") < 250)
    tmp = tempfile.mkdtemp(prefix="pns_lm_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        expected = {
            r["doc_id"]: r["avg_neg_logp"]
            for r in ngram_lm_score_stream(static, reference, "text")
            .select("doc_id", "avg_neg_logp")
            .collect()
        }
        stream = spark.readStream.schema(static.schema).parquet(f"{tmp}/in")
        scored = ngram_lm_score_stream(stream, reference, "text")
        assert scored.isStreaming
        q = (
            scored.select("doc_id", "avg_neg_logp")
            .writeStream.format("memory")
            .queryName("lm_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["avg_neg_logp"]
            for r in spark.table("lm_stream_out").collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ngram_lm_score_stream_null_text(spark):
    from polars_nexpresso_spark.functions.text import ngram_lm_score_stream

    reference = spark.createDataFrame(
        [(1, "a b c d")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in ngram_lm_score_stream(docs, reference, "text").collect()
    }
    assert got[1] is not None
    assert got[2] is None


def test_nb_quality_stream_matches_batch(spark):
    """The stateless hash-dictionary scorer must reproduce the batch
    join path's scores exactly (same rounding contract)."""
    from polars_nexpresso_spark.functions.text import (
        nb_quality_model,
        nb_quality_score,
        nb_quality_score_stream,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    pos = docs.filter(F.col("doc_id") < 100)
    neg = docs.filter(F.col("doc_id") >= 100)
    batch = {
        r["doc_id"]: (r["n_tokens"], r["nb_logodds"])
        for r in nb_quality_score(
            docs, nb_quality_model(pos, neg, "text"), "text", "doc_id"
        ).collect()
    }
    stream_path = {
        r["doc_id"]: (r["n_tokens"], r["nb_logodds"])
        for r in nb_quality_score_stream(docs, pos, neg, "text")
        .filter(F.col("n_tokens") > 0)
        .select("doc_id", "n_tokens", "nb_logodds")
        .collect()
    }
    assert stream_path == batch


def test_nb_quality_stream_on_actual_stream(spark):
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.text import (
        nb_quality_score_stream,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    pos = docs.filter(F.col("doc_id") < 100)
    neg = docs.filter(F.col("doc_id") >= 100)
    tmp = tempfile.mkdtemp(prefix="pns_nb_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        expected = {
            r["doc_id"]: r["nb_logodds"]
            for r in nb_quality_score_stream(static, pos, neg, "text")
            .select("doc_id", "nb_logodds")
            .collect()
        }
        stream = spark.readStream.schema(static.schema).parquet(f"{tmp}/in")
        scored = nb_quality_score_stream(stream, pos, neg, "text")
        assert scored.isStreaming
        q = (
            scored.select("doc_id", "nb_logodds")
            .writeStream.format("memory")
            .queryName("nb_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["nb_logodds"]
            for r in spark.table("nb_stream_out").collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_nb_quality_stream_null_and_empty_text(spark):
    from polars_nexpresso_spark.functions.text import (
        nb_quality_score_stream,
    )

    pos = spark.createDataFrame([(1, "good words")], ["doc_id", "text"])
    neg = spark.createDataFrame([(2, "bad stuff")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "good"), (2, None), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["nb_logodds"])
        for r in nb_quality_score_stream(docs, pos, neg, "text").collect()
    }
    assert got[1][0] == 1 and got[1][1] > 0
    assert got[2] == (0, None)
    assert got[3] == (0, None)


def test_quality_calibrate_contracts(spark):
    """Per-group percent_rank: ties share a rank, single-row groups
    calibrate to 0, NULL scores calibrate to NULL outside the rank
    denominator, and 'top 30% of every source' becomes one predicate."""
    import pytest
    from pyspark.sql import functions as F

    from polars_nexpresso_spark.functions.text import quality_calibrate

    df = spark.createDataFrame(
        [
            (1, "web", 10), (2, "web", 20), (3, "web", 20), (4, "web", 40),
            (5, "code", 90),                     # single-row group
            (6, "web", None), (7, "code", None),  # NULL scores
        ],
        "doc_id long, source string, score int",
    )
    out = {r["doc_id"]: r["calibrated"]
           for r in quality_calibrate(df, "score", "source", "doc_id")
           .collect()}
    assert out[1] == 0.0
    assert out[2] == out[3] == pytest.approx(1 / 3, abs=1e-9)  # tie
    assert out[4] == 1.0
    assert out[5] == 0.0            # single-row group
    assert out[6] is None and out[7] is None
    # NULL rows did not shift the denominator: web has 4 ranked rows
    with pytest.raises(ValueError, match="column"):
        quality_calibrate(df, "nope", "source", "doc_id")


def test_quality_calibrate_plan_budget(spark):
    """One partitioned window = one hash exchange on the group column;
    no global sort, no python, no unpartitioned window."""
    from polars_nexpresso_spark.functions.text import quality_calibrate
    from polars_nexpresso_spark.plans.audit import scale_report
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rep = scale_report(
        quality_calibrate(docs, "n_chars", "source", "doc_id")
    )
    assert rep["warnings"] == [], rep["warnings"]
    assert rep["exchanges"] <= 1, rep["exchanges"]
    assert rep["python_stages"] == 0


def test_char_entropy_contracts(spark):
    """Hand-computed entropies: 'aab' = -(2/3 ln 2/3 + 1/3 ln 1/3),
    uniform 'abcd' = ln 4, constant 'aaaa' = 0; NULL text -> NULL
    n_chars + NULL entropy, empty text -> 0 chars + NULL entropy; the
    gibberish ordering (base64-ish > english-ish > padding) holds."""
    import math

    import pytest

    from polars_nexpresso_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aab"), (2, "abcd"), (3, "aaaa"), (4, None), (5, ""),
            (6, "QmFzZTY0IGJsb2Ih8J+YhA=="),       # base64-ish
            (7, "the cat sat on the mat"),          # natural-ish
            (8, "____________________"),            # padding
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_entropy(df, "text", "doc_id")
            .collect()}
    assert rows[1]["entropy"] == pytest.approx(
        -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3)), abs=1e-9
    )
    assert rows[2]["entropy"] == pytest.approx(math.log(4), abs=1e-9)
    assert rows[3]["entropy"] == 0.0
    assert rows[4]["n_chars"] is None and rows[4]["entropy"] is None
    assert rows[5]["n_chars"] == 0 and rows[5]["entropy"] is None
    assert rows[6]["entropy"] > rows[7]["entropy"] > rows[8]["entropy"]
    assert rows[8]["entropy"] == 0.0
    with pytest.raises(ValueError, match="columns"):
        char_entropy(df, "nope", "doc_id")


def test_char_entropy_plan_budget(spark):
    """Pure map-side: ZERO exchanges, zero Python, no explode — the
    per-character-row shuffle an explode formulation would pay is the
    shape that dies at 100 TB."""
    from polars_nexpresso_spark.functions.text import char_entropy
    from polars_nexpresso_spark.plans.audit import scale_report
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rep = scale_report(char_entropy(docs, "text", "doc_id"))
    assert rep["warnings"] == [], rep["warnings"]
    assert rep["exchanges"] == 0, rep["exchanges"]
    assert rep["python_stages"] == 0


def test_encoding_quality_contracts(spark):
    """Crafted mojibake: U+FFFD and C0-control counts are exact (tab/
    newline/CR are NOT control hits), ratios divide by char count,
    NULL/empty text contracts hold."""
    import pytest

    from polars_nexpresso_spark.functions.text import encoding_quality

    df = spark.createDataFrame(
        [
            (1, "ab�c�\x01\x02\tx"),  # 2 repl, 2 control
            (2, "clean text\nwith lines\r\n"),   # whitespace is fine
            (3, None),
            (4, ""),
            (5, "\x00\x7f"),                     # pure binary spill
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r
            for r in encoding_quality(df, "text", "doc_id").collect()}
    assert rows[1]["n_chars"] == 9
    assert rows[1]["n_replacement"] == 2 and rows[1]["n_control"] == 2
    assert rows[1]["replacement_ratio"] == pytest.approx(2 / 9, abs=1e-9)
    assert rows[2]["n_replacement"] == 0 and rows[2]["n_control"] == 0
    assert rows[3]["n_chars"] is None
    assert rows[3]["replacement_ratio"] is None
    assert rows[4]["n_chars"] == 0 and rows[4]["control_ratio"] is None
    assert rows[5]["n_control"] == 2
    assert rows[5]["control_ratio"] == 1.0
    with pytest.raises(ValueError, match="columns"):
        encoding_quality(df, "nope", "doc_id")


def test_encoding_quality_plan_budget(spark):
    """Pure map-side regexp_count projections: zero exchanges, zero
    Python."""
    from polars_nexpresso_spark.functions.text import encoding_quality
    from polars_nexpresso_spark.plans.audit import scale_report
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rep = scale_report(encoding_quality(docs, "text", "doc_id"))
    assert rep["warnings"] == [], rep["warnings"]
    assert rep["exchanges"] == 0
    assert rep["python_stages"] == 0


def test_char_entropy_and_encoding_quality_stream_parity(spark):
    """Both gates are pure projections, so they run UNCHANGED on a real
    readStream (availableNow drain) with rows identical to the static
    run — the property that lets an ingest pipeline gate encoding
    health and gibberish before any stateful stage."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.text import (
        char_entropy,
        encoding_quality,
    )
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    tmp = tempfile.mkdtemp(prefix="pns_gate_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        for name, op in (
            ("char_entropy", lambda d: char_entropy(d, "text", "doc_id")),
            ("encoding_quality",
             lambda d: encoding_quality(d, "text", "doc_id")),
        ):
            expected = {tuple(r) for r in op(static).collect()}
            stream = spark.readStream.schema(static.schema).parquet(
                f"{tmp}/in"
            )
            out = op(stream)
            assert out.isStreaming
            q = (
                out.writeStream.format("memory")
                .queryName(f"gate_stream_{name}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = {
                tuple(r)
                for r in spark.table(f"gate_stream_{name}").collect()
            }
            assert got == expected, name
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
