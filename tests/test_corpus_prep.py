"""Corpus-preparation operators added in round 7 session 2:
token-boundary truncation (and, below as they land, the epoch planner /
upsampler and reference-corpus dedup)."""

from __future__ import annotations

import pytest

from polars_nexpresso_spark.functions.text import truncate_tokens


def test_truncate_tokens_caps_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "one two"),
            (3, "Case Kept UPPER low"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in truncate_tokens(df, "text", 3).collect()
    }
    assert out[1]["text"] == "a b c"
    assert out[1]["n_tokens"] == 6 and out[1]["was_truncated"] is True
    assert out[2]["text"] == "one two"
    assert out[2]["n_tokens"] == 2 and out[2]["was_truncated"] is False
    # case preserved (truncation is NOT normalization)
    assert out[3]["text"] == "Case Kept UPPER"


def test_truncate_tokens_whitespace_and_null_contract(spark):
    df = spark.createDataFrame(
        [
            (1, "  a\t\tb \n c  "),
            (2, None),
            (3, ""),
            (4, "   \n\t  "),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in truncate_tokens(df, "text", 10).collect()
    }
    # runs collapse, edge whitespace never makes empty tokens
    assert out[1]["text"] == "a b c" and out[1]["n_tokens"] == 3
    assert out[2]["text"] is None
    assert out[2]["n_tokens"] == 0 and out[2]["was_truncated"] is False
    assert out[3]["text"] == "" and out[3]["n_tokens"] == 0
    assert out[4]["text"] == "" and out[4]["n_tokens"] == 0


def test_truncate_tokens_out_col_and_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    row = truncate_tokens(df, "text", 2, out_col="short").collect()[0]
    assert row["text"] == "a b c" and row["short"] == "a b"
    with pytest.raises(ValueError, match="not in DataFrame"):
        truncate_tokens(df, "body", 2)
    with pytest.raises(ValueError, match="max_tokens"):
        truncate_tokens(df, "text", 0)


def test_truncate_tokens_plan_has_no_exchange(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = (
        truncate_tokens(df, "text", 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# --- epoch planning + upsampling --------------------------------------------


from pyspark.sql import functions as F

from polars_nexpresso_spark.functions.sampling import (
    epoch_plan,
    repeat_upsample,
)


def _weights(spark):
    # (source, n_tokens, target_share): a big natural source, a small
    # boosted one, one absent from the plan's budget (share 0).
    return spark.createDataFrame(
        [("big", 1000, 0.5), ("small", 100, 0.5), ("off", 400, 0.0)],
        "source string, n_tokens bigint, target_share double",
    )


def test_epoch_plan_hand_computed(spark):
    plan = {
        r["source"]: r
        for r in epoch_plan(
            _weights(spark), token_budget=1000, max_epochs=4.0
        ).collect()
    }
    # shares renormalize over 1.0 total: each budgeted source gets 500.
    assert plan["big"]["target_tokens"] == 500.0
    assert plan["big"]["epochs"] == 0.5 and plan["big"]["capped"] is False
    assert plan["big"]["tokens_planned"] == 500
    # small would need 5 epochs -> capped at 4
    assert plan["small"]["epochs_raw"] == 5.0
    assert plan["small"]["epochs"] == 4.0 and plan["small"]["capped"] is True
    assert plan["small"]["tokens_planned"] == 400
    assert plan["off"]["epochs"] == 0.0 and plan["off"]["tokens_planned"] == 0


def test_epoch_plan_validation(spark):
    w = _weights(spark)
    with pytest.raises(ValueError, match="token_budget"):
        epoch_plan(w, token_budget=0)
    with pytest.raises(ValueError, match="max_epochs"):
        epoch_plan(w, token_budget=10, max_epochs=0)
    with pytest.raises(ValueError, match="missing column"):
        epoch_plan(w.drop("n_tokens"), token_budget=10)


def _docs(spark, n=200):
    rows = [(i, "big" if i % 2 == 0 else "small") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, source string")


def test_repeat_upsample_whole_and_fractional(spark):
    plan = spark.createDataFrame(
        [("big", 2.0), ("small", 0.5)],
        "source string, epochs double",
    )
    out = repeat_upsample(_docs(spark), "doc_id", plan)
    by_source = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # 100 big docs x exactly 2 epochs
    assert by_source["big"] == 200
    # 100 small docs x 0.5 -> hash-chosen ~half, deterministic
    assert 30 <= by_source["small"] <= 70
    # epoch index is 1-based and dense per doc
    epochs = {
        r["epoch"]
        for r in out.filter(F.col("source") == "big")
        .select("epoch")
        .distinct()
        .collect()
    }
    assert epochs == {1, 2}


def test_repeat_upsample_deterministic_and_plan_is_keep_list(spark):
    docs = _docs(spark)
    plan = spark.createDataFrame(
        [("big", 1.25)], "source string, epochs double"
    )
    a = repeat_upsample(docs, "doc_id", plan).collect()
    b = repeat_upsample(docs.repartition(7), "doc_id", plan).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # sources absent from the plan are dropped entirely
    assert all(r["source"] == "big" for r in a)
    # re-seeding re-deals the fractional extra copies
    c = repeat_upsample(docs, "doc_id", plan, seed=99)
    extra_a = {r["doc_id"] for r in a if r["epoch"] == 2}
    extra_c = {r["doc_id"] for r in c.collect() if r["epoch"] == 2}
    assert extra_a != extra_c and len(extra_a) > 0


def test_repeat_upsample_zero_and_negative_epochs_drop(spark):
    plan = spark.createDataFrame(
        [("big", 0.0), ("small", -1.0)], "source string, epochs double"
    )
    assert repeat_upsample(_docs(spark), "doc_id", plan).count() == 0


def test_repeat_upsample_plan_joins_broadcast(spark):
    plan = spark.createDataFrame(
        [("big", 1.0)], "source string, epochs double"
    )
    plan_str = (
        repeat_upsample(_docs(spark), "doc_id", plan)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_str
    assert "SortMergeJoin" not in plan_str


def test_epoch_plan_composes_with_temperature_weights(spark):
    from polars_nexpresso_spark.functions.sampling import (
        temperature_mix_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a a a a a a", "big"),
            (2, "b b b b b b b b", "big"),
            (3, "c c", "small"),
        ],
        ["doc_id", "text", "source"],
    )
    w = temperature_mix_weights(docs, "text", "source", alpha=0.5)
    plan = epoch_plan(w, token_budget=100, max_epochs=10.0)
    rows = {r["source"]: r for r in plan.collect()}
    # the boosted small source plans MORE epochs than the big one
    assert rows["small"]["epochs"] > rows["big"]["epochs"]


def test_temperature_mix_zero_token_source_gets_explicit_zero(spark):
    """A source with no tokens must come out weight 0.0, not a NULL
    that apply_mix would silently drop (round-7 advisory)."""
    from polars_nexpresso_spark.functions.sampling import (
        temperature_mix_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a a", "real"),
            (2, "b b", "real"),
            (3, "", "empty"),
            (4, "", "empty"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r["source"]: r
        for r in temperature_mix_weights(
            docs, "text", "source", alpha=0.5
        ).collect()
    }
    assert rows["empty"]["weight"] == 0.0
    assert rows["empty"]["n_tokens"] == 0
    assert rows["real"]["weight"] == 1.0  # only non-empty source -> max


# --- reference-corpus dedup -------------------------------------------------


from polars_nexpresso_spark.functions.dedup import (
    dedup_against_reference,
    dedup_against_reference_stream,
)


def _new_and_ref(spark):
    new = spark.createDataFrame(
        [
            (1, "Fresh Document one"),
            (2, "already   SEEN text"),   # spacing/case variant of ref
            (3, "another fresh one"),
            (4, None),
            (5, "exact seen copy"),
        ],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame(
        [
            (100, "already seen text"),
            (101, "exact seen copy"),
            (102, None),
        ],
        ["doc_id", "text"],
    )
    return new, ref


def test_dedup_against_reference_content_level(spark):
    new, ref = _new_and_ref(spark)
    kept = {
        r["doc_id"]
        for r in dedup_against_reference(new, ref, "text").collect()
    }
    # 2 drops as a normalization variant, 5 as an exact copy;
    # NULL text always survives (even with NULL text in the ref).
    assert kept == {1, 3, 4}


def test_dedup_against_reference_robust_canon(spark):
    """canon="robust" catches RE-CRAWLS: the reference copy carries last
    month's timestamps/counters, the new batch today's — exact keys
    miss them, robust keys drop them. Batch and stream paths agree, and
    an invalid canon fails fast."""
    import pytest

    new = spark.createDataFrame(
        [
            (1, "Posted 2026-08-16; 9,999 views. Same old article!"),
            (2, "genuinely new content"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame(
        [(100, "posted 2024-01-02:   1,372 views... same (old) article")],
        ["doc_id", "text"],
    )
    # exact canon: no match — doc 1 survives
    exact = {
        r["doc_id"]
        for r in dedup_against_reference(new, ref, "text").collect()
    }
    assert exact == {1, 2, 3}
    # robust canon: doc 1 is the re-crawl and drops, on BOTH paths
    for out in (
        dedup_against_reference(new, ref, "text", canon="robust"),
        dedup_against_reference_stream(new, ref, "text", canon="robust"),
    ):
        assert {r["doc_id"] for r in out.collect()} == {2, 3}
    with pytest.raises(ValueError, match="canon must be"):
        dedup_against_reference(new, ref, "text", canon="fuzzy")


def test_dedup_against_reference_stream_matches_batch(spark):
    new, ref = _new_and_ref(spark)
    batch = {
        r["doc_id"]
        for r in dedup_against_reference(new, ref, "text").collect()
    }
    stream = {
        r["doc_id"]
        for r in dedup_against_reference_stream(new, ref, "text").collect()
    }
    assert stream == batch == {1, 3, 4}


def test_dedup_against_reference_stream_on_actual_stream(spark):
    import shutil
    import tempfile

    from polars_nexpresso_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)

    tmp = tempfile.mkdtemp(prefix="pns_refdedup_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        static = spark.read.parquet(f"{tmp}/in")
        expected = {
            r["doc_id"]
            for r in dedup_against_reference_stream(static, ref, "text")
            .select("doc_id")
            .collect()
        }
        assert expected  # some survivors, some drops
        stream = spark.readStream.schema(static.schema).parquet(f"{tmp}/in")
        kept = dedup_against_reference_stream(stream, ref, "text")
        assert kept.isStreaming
        q = (
            kept.select("doc_id")
            .writeStream.format("memory")
            .queryName("refdedup_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]
            for r in spark.table("refdedup_stream_out").collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_against_reference_guards(spark):
    new, ref = _new_and_ref(spark)
    with pytest.raises(ValueError, match="need column"):
        dedup_against_reference(new.drop("text"), ref, "text")
    with pytest.raises(ValueError, match="max_ref_fingerprints"):
        dedup_against_reference_stream(
            new, ref, "text", max_ref_fingerprints=1
        )


def test_dedup_against_reference_plan_shapes(spark):
    """The default call's plans. A reference read from storage has a size
    Catalyst knows, so its small fingerprint set is broadcast in the
    static plan: a LeftAnti BroadcastHashJoin, and the new batch is never
    shuffled. A reference of unknown size (a local ``createDataFrame``)
    gets no static broadcast; AQE turns its join into the same
    BroadcastHashJoin at runtime, after the new batch's shuffle stage."""
    from polars_nexpresso_spark.sources.io import read_table

    new, ref = _new_and_ref(spark)
    stored_ref = read_table(spark, "/root/testdata/sf0.001", "documents")
    bplan = (
        dedup_against_reference(new, stored_ref, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in bplan and "LeftAnti" in bplan
    assert "SortMergeJoin" not in bplan
    out = dedup_against_reference(new, ref, "text")
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final and "LeftAnti" in final
    # the stream probe is join-free and shuffle-free
    splan = (
        dedup_against_reference_stream(new, ref, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in splan and "Exchange" not in splan


# --- mixture-weight materializer --------------------------------------------


from polars_nexpresso_spark.functions.sampling import apply_mix_weights


def test_apply_mix_weights_downsamples_per_source(spark):
    docs = _docs(spark, n=2000)  # 1000 per source
    w = spark.createDataFrame(
        [("big", 0.25), ("small", 1.0)], "source string, weight double"
    )
    out = apply_mix_weights(docs, w, "doc_id")
    by = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by["small"] == 1000            # weight 1.0 keeps everything
    assert 180 <= by["big"] <= 320        # ~25%, hash-deterministic
    # layout-independent
    again = apply_mix_weights(docs.repartition(13), w, "doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_apply_mix_weights_keep_list_and_validation(spark):
    docs = _docs(spark)
    w = spark.createDataFrame([("big", 0.5)], "source string, weight double")
    assert (
        apply_mix_weights(docs, w, "doc_id")
        .filter(F.col("source") == "small")
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="missing column"):
        apply_mix_weights(docs, w.drop("weight"), "doc_id")
    plan = (
        apply_mix_weights(docs, w, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# --- compression-ratio quality signal ---------------------------------------


def test_compression_ratio_separates_repetition_from_prose(spark):
    from polars_nexpresso_spark.functions.text import compression_ratio

    df = spark.createDataFrame(
        [
            (1, "spam " * 400),                      # templated
            (2, "the quick brown fox jumps over the lazy dog and then "
                "writes a rather varied sentence about compression"),
            (3, None),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_ratio(df, "text").collect()
    }
    assert out[1] < 0.05                   # repetition collapses
    assert 0.3 < out[2] < 1.2              # prose does not
    assert out[3] is None and out[4] is None
    plan = (
        compression_ratio(df, "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "ArrowEvalPython" in plan
