"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "polars-nexpresso-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults: AQE on (runtime re-planning, partition coalescing, skew-join
    handling), Arrow for any pandas exchange, nested-schema pruning for the
    packed (all-struct) representation, a codegen cache that holds the
    engine's compiled classes, and shuffle partitions sized to the local
    core count (``SPARK_GRAFT_CPUS``). On a real cluster, callers
    should size ``shuffle_partitions`` to ~2-3× total cores and rely on AQE
    coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Whole-stage codegen keeps compiled classes in an LRU cache of this
        # many entries (a static conf, default 100). One sf0.001 replay of
        # the query registry (scripts/check_oracle.py) compiles 1,929
        # distinct classes, and the dedup + ANN chain alone needs ~150, so
        # at 100 every repeated call compiled its classes again with Janino.
        # 4096 holds more than twice the registry's working set.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Some testdata generations store ts as TIMESTAMP(NANOS), which the
        # vectorized reader rejects; this reads those as long ns (harmless
        # no-op for the current timestamp[us] data). Consumers branch on the
        # actual dtype (see queries._events_with_event_time).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("PNS_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
