"""Tests for the plan-antipattern auditor and the key-skew diagnostic."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from polars_nexpresso_spark.plans.audit import audit_plan
from polars_nexpresso_spark.plans.stats import key_skew_stats


def test_audit_flags_cartesian_and_global_sort(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    warnings = audit_plan(a.crossJoin(b))
    assert any(w.startswith("cartesian-product") for w in warnings) or any(
        w.startswith("nested-loop-join") for w in warnings
    )
    # orderBy("id") over Range is optimized away (already ordered) — sort
    # on a derived key so a real range-exchange survives into the plan
    assert any(
        w.startswith("global-sort")
        for w in audit_plan(a.orderBy((F.col("id") % 7).asc()))
    )


def test_audit_flags_python_row_udf(spark):
    from pyspark.sql.functions import udf

    plain = udf(lambda x: x + 1, "long")
    df = spark.range(10).select(plain(F.col("id")).alias("y"))
    assert any(w.startswith("python-row-udf") for w in audit_plan(df))


def test_audit_clean_plan_and_exchange_budget(spark):
    df = spark.range(100).filter(F.col("id") % 2 == 0).select("id")
    assert audit_plan(df) == []
    grouped = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert audit_plan(grouped, max_exchanges=1) == []
    double = (
        grouped.groupBy((F.col("k") % 2).alias("j"))
        .count()
    )
    assert any(
        w.startswith("exchange-count")
        for w in audit_plan(double, max_exchanges=1)
    )


def test_key_skew_stats_ranks_hot_keys(spark):
    rows = [("hot",)] * 70 + [("warm",)] * 20 + [("cold",)] * 10
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_stats(df, ["k"], top_n=2).collect()
    assert [(r["k"], r["n_rows"]) for r in out] == [("hot", 70), ("warm", 20)]
    assert out[0]["share"] == 0.7


def test_audit_flags_unpartitioned_window(spark):
    from pyspark.sql import Window

    # offender: whole-frame window, no partition key
    bad = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert any(
        w.startswith("window-without-partitionBy") for w in audit_plan(bad)
    )
    # partitioned window: clean
    good = spark.range(100).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy((F.col("id") % 5)).orderBy("id")
        ),
    )
    assert not any(
        w.startswith("window-without-partitionBy") for w in audit_plan(good)
    )
    # partitioned window with NO orderBy prints as 'Window [funcs], [k]'
    # — one bracket-pair like the unpartitioned form, but the trailing
    # group is a partition spec, not a sort. Must stay clean (r5 advice).
    orderless = spark.range(100).withColumn(
        "s", F.sum("id").over(Window.partitionBy(F.col("id") % 5))
    )
    assert not any(
        w.startswith("window-without-partitionBy")
        for w in audit_plan(orderless)
    )


def test_catalog_unpartitioned_windows_are_bounded(spark):
    """The ONLY catalog queries with an unpartitioned window are
    vocab_topk (window over a .limit(k) survivor frame, ≤k rows),
    source_mix and temperature_mix (windows over the per-source
    planning table, #sources rows), and token_budget (prefix window
    over the <= n_buckets-row bucket-sum table; the per-ROW running sum
    is partitioned — pinned in
    test_take_token_budget_no_unbounded_row_window). Pin the
    justification: each such window's input is bounded by an explicit
    limit/aggregation in the same plan. A new catalog query that
    windows an unbounded frame must either partition it or be added
    here with its own bound."""
    from polars_nexpresso_spark.plans.audit import _has_unpartitioned_window

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    qs = em.queries()
    for name in ("vocab_topk", "source_mix", "temperature_mix", "token_budget"):
        plan = (
            qs[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert _has_unpartitioned_window(plan), name
    # vocab_topk's window input is capped by GlobalLimit k
    vt_plan = (
        qs["vocab_topk"](spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GlobalLimit" in vt_plan or "TakeOrderedAndProject" in vt_plan
    # source_mix's window input is the output of a per-source aggregate
    sm_plan = (
        qs["source_mix"](spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in sm_plan


def test_scale_report_shape(spark):
    from polars_nexpresso_spark.plans.audit import scale_report

    clean = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    rep = scale_report(clean)
    assert rep["warnings"] == []
    assert rep["exchanges"] == 1
    assert rep["python_stages"] == 0
    assert rep["estimated_input_bytes"] is None or rep[
        "estimated_input_bytes"
    ] > 0
    # under AQE a fresh QueryExecution is never finalized, so codegen
    # spans read 0 here — informational only (docstring caveat)
    assert rep["codegen_spans"] >= 0

    bad = spark.range(10).crossJoin(
        spark.range(10).withColumnRenamed("id", "id2")
    )
    assert scale_report(bad)["warnings"]


def test_hof_reeval_tripwire_flags_prefix_char_entropy_shape(spark):
    """The round-10 char_entropy rake: ``array_sort(split(text, ''))``
    referenced INSIDE a ``F.filter`` lambda is re-split and re-sorted
    once per character — O(len²·log len) per row (measured 83 s for
    1.5 MB of text). The auditor's exchange budget waved it through;
    hof_reeval_risks must not."""
    from polars_nexpresso_spark.plans.audit import (
        audit_plan,
        hof_reeval_risks,
    )

    df = spark.createDataFrame(
        [("a", "hello world")], ["doc_id", "text"]
    )
    txt = F.col("text")
    s = F.array_sort(F.split(txt, ""))
    n = F.size(s)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == F.lit(0)) | (F.get(s, i - 1) != F.get(s, i)),
    )
    bad = df.select(F.size(starts).alias("x"))
    risks = hof_reeval_risks(bad)
    assert any("array_sort" in r for r in risks)
    # and the general auditor now carries the finding too
    assert any(r.startswith("hof-reevaluation") for r in audit_plan(bad))


def test_hof_reeval_tripwire_clean_on_staged_and_inherent_shapes(spark):
    """No false positives on the three legit shapes: (1) the FIXED
    char_entropy (sorted array staged as a real column), (2)
    lexical_diversity (the staging pattern the fix copies), (3) an
    expensive call that operates on the lambda's OWN variable —
    per-element splitting is inherent work, not re-evaluation."""
    from polars_nexpresso_spark.functions.text import (
        char_entropy,
        lexical_diversity,
    )
    from polars_nexpresso_spark.plans.audit import hof_reeval_risks

    df = spark.createDataFrame(
        [("a", "hello world"), ("b", None)], ["doc_id", "text"]
    )
    assert hof_reeval_risks(char_entropy(df, "text", "doc_id")) == []
    assert hof_reeval_risks(lexical_diversity(df, "text", "doc_id")) == []
    legit = df.select(
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.split(w, "-")
        ).alias("y")
    )
    assert hof_reeval_risks(legit) == []


def test_hof_reeval_tripwire_clean_on_constant_foldable_calls(spark):
    """r13: a call whose arguments are ALL literals (no ``name#id``
    attribute references) inside a lambda body is collapsed to one
    Literal by ConstantFolding before execution — the r13 PQ/LSH
    ``from_json('[[...]]')`` codebook literals — so the tripwire must
    not flag it. The auditor reads the ANALYZED plan, which predates
    that folding."""
    from polars_nexpresso_spark.plans.audit import hof_reeval_risks

    df = spark.createDataFrame([(1, [1.0, 2.0])], ["id", "v"])
    folded = df.select(
        F.expr(
            "transform(sequence(0, 1), i -> aggregate(zip_with(v, "
            "element_at(from_json('[[1.0,2.0],[3.0,4.0]]', "
            "'array<array<double>>'), i + 1), (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        ).alias("dots")
    )
    risks = hof_reeval_risks(folded)
    assert [r for r in risks if "from_json" in r] == [], risks


def test_python_udf_extraction_survives_ngram_args(spark):
    """Nested-lambda expressions (a lambda whose body references an
    OUTER lambda's variable, e.g. a let-binding) break Spark's
    ExtractPythonUDFs when they collapse into a Python-UDF argument:
    the UDF's ``references`` leak the outer lambda variable, the raw
    PythonUDF stays in the Filter, and the task dies with
    INTERNAL_ERROR "Cannot evaluate expression". word_ngrams_all must
    therefore stay extraction-safe (zip-shifted slices, no nested
    lambdas) — pinned here by planning the decontaminate_bloom shape
    under an aggregate (the collapse trigger) and asserting the UDF
    reached an ArrowEvalPython stage."""
    from pyspark.sql.functions import pandas_udf

    from polars_nexpresso_spark.functions.text import word_ngrams

    @pandas_udf("boolean")
    def probe(arr: pd.Series) -> pd.Series:
        return pd.Series(
            [a is not None and len(a) > 0 for a in arr], dtype=bool
        )

    probe = probe.asNondeterministic()
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, None)], ["doc_id", "text"]
    ).repartition(2)
    pos = F.flatten(
        F.transform(
            word_ngrams(F.col("text"), 3),
            lambda s: F.array(F.xxhash64(s)),
        )
    )
    out = (
        df.withColumn("__p", pos)
        .filter(~probe(F.col("__p")))
        .drop("__p")
        .groupBy()
        .count()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    # and it actually runs (the pre-fix shape planned but died on eval)
    assert out.collect()[0]["count"] >= 0


def test_udf_consuming_registry_queries_survive_count_pruning(spark):
    """groupBy().count() prunes every output column, collapsing
    projections INTO filter conditions — the trigger that turned the
    word_ngrams let-binding into an un-extracted PythonUDF runtime
    INTERNAL_ERROR (decontaminate_bloom, r11). Pin the pandas-UDF-
    consuming registry queries against that class: each must still
    execute under full pruning. (A one-off sweep verified all 142
    registry queries; this keeps the high-risk subset in CI.)"""
    import __spark_entry__ as em

    qs = em.queries()
    for name in (
        "decontaminate_bloom",
        "decontaminate_stream",
        "ref_dedup",
        "fixed_boilerplate",
        "oov_annotate",
    ):
        n = (
            qs[name](spark, "/root/testdata/sf0.001")
            .groupBy()
            .count()
            .collect()[0]["count"]
        )
        assert n >= 0, name


def test_call_spans_reports_truncated_span():
    """An unclosed call (truncated plan print) must be REPORTED, not
    silently skipped — a CLEAN sweep over a partially-inspected plan
    would otherwise be indistinguishable from a genuinely clean one
    (r11 advice)."""
    from polars_nexpresso_spark.plans.audit import _call_spans

    spans, truncated = _call_spans("concat(a, concat(b, c)", "concat(")
    # the inner call closes; the outer one never does
    assert truncated
    assert len(spans) == 1
    spans, truncated = _call_spans("concat(a, b) and concat(c, d)", "concat(")
    assert not truncated and len(spans) == 2


def test_hof_sweep_flags_truncated_plan(monkeypatch):
    """hof_reeval_risks must append the plan-truncated warning when the
    analyzed plan holds an unclosed lambdafunction span."""
    from polars_nexpresso_spark.plans import audit

    class _FakeQE:
        def analyzed(self):
            class _P:
                def toString(self):
                    return "Project [lambdafunction(array_sort(split(x"
            return _P()

    class _FakeJdf:
        def queryExecution(self):
            return _FakeQE()

    class _FakeDF:
        _jdf = _FakeJdf()

    risks = audit.hof_reeval_risks(_FakeDF())
    assert any("plan-truncated" in r for r in risks), risks


def test_plan_size_bytes_unknown_is_none(spark, tmp_path):
    """A createDataFrame frame has no size statistics (Catalyst reports
    defaultSizeInBytes) and reads as None; a parquet scan has a size."""
    from polars_nexpresso_spark.plans.audit import scale_report
    from polars_nexpresso_spark.plans.stats import plan_size_bytes

    local = spark.createDataFrame([(1, 2.0)], "a bigint, b double")
    assert plan_size_bytes(local) is None
    assert scale_report(local)["estimated_input_bytes"] is None
    path = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(path)
    size = plan_size_bytes(spark.read.parquet(path))
    assert isinstance(size, int) and 0 < size < 1 << 60
