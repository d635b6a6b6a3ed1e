"""Driver-side Catalyst plan statistics — no jobs, no RDD conversion."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue by default)
# for a leaf without statistics; no real plan estimate comes near 2^60.
_UNKNOWN_SIZE = 1 << 60


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's static size estimate for a DataFrame's optimized plan, or
    None when the size is unknown.

    Driver-side plan stat — no job. Unknown covers Spark Connect (no
    ``_jdf`` plan handle) and leaves without statistics (LogicalRDD, local
    relations, some views), for which Catalyst reports
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue) — "no idea", not
    "huge". This is the one place that tells the two apart: every size
    gate takes None as "unknown" and keeps its small-input shape. py4j
    returns ``stats().sizeInBytes()`` as a plain int when the scala BigInt
    fits a long, and as a JavaObject otherwise; normalize both.
    """
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None
    size = jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    size = size if isinstance(size, int) else int(size.toString())
    return None if size >= _UNKNOWN_SIZE else size


def key_skew_stats(df: DataFrame, keys: list[str], *, top_n: int = 10):
    """Top-``top_n`` hottest key groups with their row share — the input
    to every salting decision (``pack(skew_salt=N)``, AQE skew-join
    tuning): a share far above ``1/n_groups`` means that key's shuffle
    partition runs long.

    Unlike the rest of this module this RUNS one job shape when
    executed: a partial-aggregated groupBy count, a broadcast total, and
    a TakeOrdered top-n (no full sort, no window). Deterministic
    tie-break on the key columns.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(
            F.col("n_rows").desc(), *[F.col(k).asc() for k in keys]
        )
        .limit(top_n)
    )
