"""Bloom-filter reference dedup — the cheapest rung of the incremental
dedup ladder (bits instead of exact 8-byte fingerprints, characterized
false-positive rate, zero false negatives)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.dedup import (
    BloomDictionary,
    build_bloom_filter,
    dedup_against_bloom,
)


def _ref(spark):
    return spark.createDataFrame(
        [(i, f"reference document number {i} about topic {i % 7}")
         for i in range(50)],
        ["doc_id", "text"],
    )


def test_bloom_dedup_no_false_negatives_and_null_survives(spark):
    ref = _ref(spark)
    bloom = build_bloom_filter(ref, "text")
    batch = spark.createDataFrame(
        [
            (1, "REFERENCE  document number 3 about topic 3"),  # variant
            (2, "reference document number 10 about topic 3"),  # exact
            (3, "a genuinely fresh document"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r["doc_id"]
        for r in dedup_against_bloom(batch, "text", bloom).collect()
    )
    # duplicates ALWAYS dropped (no false negatives); fresh + NULL
    # survive (filter far below its FP fill at 50 items / >=1024 bits)
    assert out == [3, 4]
    assert bloom.n_items == 50


def test_bloom_false_positive_rate_is_characterized(spark):
    n = 4000
    ref = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(n)], ["doc_id", "text"]
    )
    bloom = build_bloom_filter(ref, "text", bits_per_item=10, num_hashes=7)
    fresh = spark.createDataFrame(
        [(i, f"unseen doc {i}") for i in range(n)], ["doc_id", "text"]
    )
    survivors = dedup_against_bloom(fresh, "text", bloom).count()
    fp_measured = (n - survivors) / n
    fp_theory = bloom.false_positive_rate()
    assert fp_theory < 0.02
    # measured FPs stay within 3x of theory (and never negative)
    assert fp_measured <= 3 * fp_theory + 2 / n
    # every SEEN doc is caught — no false negatives, the hard guarantee
    assert dedup_against_bloom(ref, "text", bloom).count() == 0


def test_bloom_merge_equals_one_shot_build(spark):
    import numpy as np

    ref = _ref(spark)
    full = build_bloom_filter(ref, "text", num_bits=8192)
    a = build_bloom_filter(
        ref.filter(F.col("doc_id") < 25), "text", num_bits=8192
    )
    b = build_bloom_filter(
        ref.filter(F.col("doc_id") >= 25), "text", num_bits=8192
    )
    merged = a.merged(b)
    assert np.array_equal(merged.bits, full.bits)
    assert merged.n_items == full.n_items == 50
    with pytest.raises(ValueError, match="geometry"):
        a.merged(
            BloomDictionary(a.bits, a.num_bits, a.num_hashes + 1, 1)
        )


def test_bloom_bytes_roundtrip(spark):
    import numpy as np

    bloom = build_bloom_filter(_ref(spark), "text")
    back = BloomDictionary.from_bytes(bloom.to_bytes())
    assert (back.num_bits, back.num_hashes, back.n_items) == (
        bloom.num_bits, bloom.num_hashes, bloom.n_items,
    )
    assert np.array_equal(back.bits, bloom.bits)


def test_bloom_probe_is_map_side(spark):
    bloom = build_bloom_filter(_ref(spark), "text", num_bits=4096)
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = (
        dedup_against_bloom(df, "text", bloom)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_bloom_build_releases_its_cache_on_error(spark, monkeypatch):
    """A failing bitmap collect still unpersists the distinct hash set."""

    def fail(self):
        raise RuntimeError("collect failed")

    ref = _ref(spark)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(type(ref), "toPandas", fail)
    with pytest.raises(RuntimeError, match="collect failed"):
        build_bloom_filter(ref, "text")
    assert jsc.getPersistentRDDs().size() == before


def test_bloom_validation(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="not in DataFrame"):
        build_bloom_filter(df, "body")
    with pytest.raises(ValueError, match="num_hashes"):
        build_bloom_filter(df, "text", num_hashes=0)
    bloom = build_bloom_filter(df, "text")
    with pytest.raises(ValueError, match="not in DataFrame"):
        dedup_against_bloom(df, "body", bloom)


# --- bloom decontamination ----------------------------------------------------


_EVAL_DOC = (
    "which benchmark question asks about the seventeen geese crossing "
    "the frozen river before the market opens to distant travelers"
)


def _train(spark):
    return spark.createDataFrame(
        [
            # contains a contaminated 13-gram span verbatim
            (1, "prefix words " + _EVAL_DOC + " suffix words"),
            (2, "a perfectly clean training document about cooking rice "
                "with garlic and butter in a heavy pan over low heat"),
            (3, None),
            # shares a few tokens but no 13-gram window
            (4, "seventeen geese in a field"),
        ],
        "doc_id long, text string",
    )


def test_decontaminate_bloom_matches_exact_stream_path(spark):
    from polars_nexpresso_spark.functions.dedup import (
        decontaminate_bloom,
        decontaminate_stream,
    )

    eval_df = spark.createDataFrame([(100, _EVAL_DOC)], ["qid", "text"])
    train = _train(spark)
    got = sorted(
        r["doc_id"]
        for r in decontaminate_bloom(train, eval_df, "text").collect()
    )
    want = sorted(
        r["doc_id"]
        for r in decontaminate_stream(train, eval_df, "text").collect()
    )
    assert got == want == [2, 3, 4]


def test_decontaminate_bloom_prebuilt_filter_reused(spark):
    from polars_nexpresso_spark.functions.dedup import (
        bloom_from_hashes,
        decontaminate_bloom,
    )
    from polars_nexpresso_spark.functions.text import word_ngrams
    from pyspark.sql import functions as F

    eval_df = spark.createDataFrame([(100, _EVAL_DOC)], ["qid", "text"])
    hashes = eval_df.select(
        F.explode(word_ngrams(F.col("text"), 13)).alias("__sh")
    ).select(F.xxhash64("__sh").alias("__h"))
    bloom = bloom_from_hashes(hashes, "__h", bits_per_item=40, num_hashes=20)
    train = _train(spark)
    out = decontaminate_bloom(train, None, "text", bloom=bloom)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3, 4]
    # plan is map-side (join-free) with the filter in the closure
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="eval_df or a prebuilt"):
        decontaminate_bloom(train, None, "text")


def test_bloom_ops_on_actual_stream(spark):
    """Both Bloom probes run identically on an unbounded readStream —
    the map-side/join-free claim, proven with an availableNow drain."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from polars_nexpresso_spark.functions.dedup import (
        bloom_from_hashes,
        build_bloom_filter,
        decontaminate_bloom,
        dedup_against_bloom,
    )
    from polars_nexpresso_spark.functions.text import word_ngrams
    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bloom = build_bloom_filter(ref, "text", bits_per_item=24, num_hashes=10)
    eval_hashes = (
        ref.limit(25)
        .select(F.explode(word_ngrams(F.col("text"), 13)).alias("__sh"))
        .select(F.xxhash64("__sh").alias("__h"))
    )
    decon_bloom = bloom_from_hashes(
        eval_hashes, "__h", bits_per_item=40, num_hashes=20
    )

    tmp = tempfile.mkdtemp(prefix="pns_bloom_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        stream = spark.readStream.schema(static.schema).parquet(f"{tmp}/in")
        for name, op in (
            ("dedup", lambda d: dedup_against_bloom(d, "text", bloom)),
            ("decon", lambda d: decontaminate_bloom(
                d, None, "text", bloom=decon_bloom
            )),
        ):
            expected = {
                r["doc_id"] for r in op(static).select("doc_id").collect()
            }
            out = op(stream)
            assert out.isStreaming
            q = (
                out.select("doc_id")
                .writeStream.format("memory")
                .queryName(f"bloom_stream_{name}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = {
                r["doc_id"]
                for r in spark.table(f"bloom_stream_{name}").collect()
            }
            assert got == expected and expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
