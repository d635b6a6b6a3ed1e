"""Testdata loaders and flat-hierarchy builders over the TPC-H-ish tables.

The driver's tables (``/root/testdata/sf*/``) form the FK chain
``region → nation → customer → orders → lineitem`` (TESTDATA.md); these
helpers load them and build the dotted flat representations the packer
consumes. Reads are plain ``spark.read.parquet`` — filters/projections
pushed down by Catalyst reach the scan.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_nexpresso_spark.plans.stats import plan_size_bytes

def scratch_dir(session: SparkSession, prefix: str) -> str:
    """A new ``<prefix>_<uuid>`` directory under the system temp dir,
    deleted at JVM exit: a frame read back from it is lazy, so nothing
    sooner can delete it (Spark Connect: no JVM handle, no cleanup)."""
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex}")
    try:
        p = session._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(session._jsc.hadoopConfiguration())
        fs.mkdirs(p)  # deleteOnExit registers existing paths only
        fs.deleteOnExit(fs.makeQualified(p))
    except AttributeError:  # Spark Connect: no JVM handle
        pass
    return path


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects unless nanos are read back as raw int64. Set the conf
        # here (not only in session.get_spark) so the read works under ANY
        # SparkSession — e.g. a bare driver-built one with no repo confs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_FORMAT_BY_EXT = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".orc": "orc",
}


def read_any(
    spark: SparkSession,
    path: str,
    *,
    format: str | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Read parquet/CSV/JSON-lines/ORC with one entry point; format inferred
    from the file extension unless given. The reference is parquet-only
    (SURVEY.md §2.F); CSV/JSON here are ingest-interchange extensions.

    Scale notes: always pass ``schema`` for CSV/JSON at scale — without one
    Spark runs a second full scan to infer it (this helper enables
    ``inferSchema``/sampled inference only as a small-data convenience).
    CSV/JSON are row formats with no column pruning or predicate pushdown;
    convert to parquet at ingest and keep the hot path columnar. CSV cannot
    hold nested data, so packed hierarchies roundtrip through JSON lines
    (structs/arrays map 1:1) or parquet, never CSV.
    """
    fmt = format or _FORMAT_BY_EXT.get(os.path.splitext(path)[1].lower(), "parquet")
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
        if schema is None:
            reader = reader.option("inferSchema", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def read_any_stream(
    spark: SparkSession,
    path: str,
    *,
    format: str | None = None,
    schema=None,
    max_files_per_trigger: int | None = None,
    **options,
) -> DataFrame:
    """``readStream`` analog of :func:`read_any` — file-source streaming for
    parquet/CSV/JSON-lines/ORC directories; format inferred from the path
    extension unless given.

    Streaming file sources REQUIRE an explicit schema (Spark refuses
    inference unless ``spark.sql.streaming.schemaInference`` is on, and at
    scale inference is a full extra pass anyway); pass ``schema`` always.
    ``max_files_per_trigger`` bounds each micro-batch — the knob that keeps
    state-store pressure and per-batch shuffle volume flat while a backlog
    of millions of files drains. Combine with the watermarked operators in
    ``streaming/`` (``windowed_pack``, ``session_pack``); parquet events
    with nanosecond timestamps need the same ``nanosAsLong`` conf that
    :func:`read_table` sets.
    """
    fmt = format or _FORMAT_BY_EXT.get(os.path.splitext(path)[1].lower(), "parquet")
    if fmt == "parquet":
        # Same session-agnostic guard as read_table: nanos timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.options(**options).load(path)


def write_any(
    df: DataFrame,
    path: str,
    *,
    format: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Write parquet/CSV/JSON-lines/ORC; format inferred from the path
    extension unless given. ``partition_by`` hive-partitions the output so
    later reads prune directories on those columns — the standard layout for
    a 100 TB corpus keyed by e.g. ``(source, language)``."""
    fmt = format or _FORMAT_BY_EXT.get(os.path.splitext(path)[1].lower(), "parquet")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", True)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).save(path)


def spread(df: DataFrame) -> DataFrame:
    """Repartition a too-few-partitions input up to the session parallelism.

    A single-row-group parquet file scans as ONE task, serializing any
    CPU-heavy per-row computation (shingling, hashing, scoring) onto one
    core regardless of cluster size. When the scan has fewer splits than
    ``defaultParallelism``, a round-robin repartition (tiny shuffle — the
    input is small by definition) restores parallelism. At real scale the
    scan already has more splits than cores and this is an exact no-op.

    Pitfall: Catalyst pushes DETERMINISTIC filters back below this
    exchange — an expensive predicate applied after ``spread`` lands in a
    pre-exchange Filter (one task again, and its expression re-evaluates
    once per reference). When a costly predicate must run on the spread
    side, pin it above the exchange by marking its UDF
    ``asNondeterministic()`` — a plan pin, not a semantics change (see
    ``dedup.decontaminate_stream``).

    The small/large decision is a DRIVER-SIDE plan stat (Catalyst's size
    estimate vs ``target x maxPartitionBytes``), not ``.rdd``
    .getNumPartitions() — touching ``.rdd`` forces physical planning + an
    RDD DAG conversion per call, avoidable noise at production call
    rates. An input estimated under ``target x maxPartitionBytes`` cannot
    scan as ``target`` healthy splits, so it repartitions; anything
    larger already splits at least that wide (parquet splits big files at
    maxPartitionBytes). Intended for scan inputs: applying it to an
    already-shuffled frame may add one (tiny) extra exchange where the
    partition-count check would have skipped it. An input of unknown size
    (Connect, stat-less leaves such as ``createDataFrame`` frames) passes
    through unchanged.
    """
    est = plan_size_bytes(df)
    if est is None:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    if est < target * int(conf.filesMaxPartitionBytes()):
        return df.repartition(target)
    return df


def _file_count(df: DataFrame, bytes_per_file: int) -> int:
    """Output file count for writing ``df`` at ~``bytes_per_file`` per
    file, from Catalyst's driver-side size estimate (no job); one file
    when the size is unknown (Connect, stat-less leaves)."""
    est = plan_size_bytes(df)
    return 1 if est is None else est // bytes_per_file + 1


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


def catalog_num_buckets(spark, table: str) -> int | None:
    """Read a table's bucket count from the catalog (``DESCRIBE
    FORMATTED`` → the ``Num Buckets`` row), or None if the table is
    unbucketed / the row is absent. Index compactors use this so a
    maintenance rewrite preserves the BUILD-TIME bucketing spec instead
    of silently re-bucketing to a default."""
    try:
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if str(r[0]).strip().lower().startswith("num buckets"):
                return int(str(r[1]).strip())
    except Exception:  # noqa: BLE001 — missing table/row: not bucketed
        return None
    return None


def catalog_is_external(spark, table: str) -> bool:
    """True when the catalog records ``table`` as EXTERNAL (built with an
    explicit ``path``). Index compactors use this to fail fast instead
    of silently rewriting an external index as managed warehouse tables
    (which would strand the old external data files)."""
    # Only a MISSING table is "managed" — a transient DESCRIBE failure
    # must propagate, not silently disable the strand-external-files
    # guard this check exists for (r10 advice).
    from pyspark.errors import AnalysisException

    try:
        rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    except AnalysisException:
        return False
    for r in rows:
        if str(r[0]).strip().lower() == "type":
            return str(r[1]).strip().upper() == "EXTERNAL"
    return False


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on join keys.

    Two tables bucketed the same way join WITHOUT any exchange — the scan
    itself provides the hash distribution — which is the way to co-locate
    the repeated FK joins of ``build_from_tables``/``denormalize`` pipelines
    at 100 TB: bucket every level table by its parent key once at ingest,
    and every later rebuild skips the join shuffles entirely. Because the
    pack aggregation groups on that same key, the bucketed distribution
    serves it too: a full ``build_from_tables`` over bucketed level tables
    plans with ZERO exchanges (tests/test_plan_shapes.py::
    test_bucketed_join_no_shuffle and
    ::test_build_from_tables_bucketed_join_no_extra_exchange).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    if not path:
        # A managed table's location can survive a previous session whose
        # (per-session) catalog is gone; saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS even in overwrite mode. Clear the
        # orphan so rebuilds are idempotent across sessions.
        try:
            jvm = spark.sparkContext._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            loc = jvm.org.apache.hadoop.fs.Path(
                spark.conf.get("spark.sql.warehouse.dir"),
                table_name.lower(),
            )
            fs = loc.getFileSystem(hconf)
            if fs.exists(loc):
                fs.delete(loc, True)
        except Exception:  # noqa: BLE001 — Connect: no JVM handle; let
            pass  # saveAsTable surface any real conflict itself
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def prefix_columns(df: DataFrame, prefix: str) -> DataFrame:
    """Rename every column to ``prefix + name`` (literal names, dot-safe)."""
    return df.select(
        *[F.col(f"`{c}`").alias(f"{prefix}{c}") for c in df.columns]
    )


def flat_region_nation_customer(
    spark: SparkSession, sf_dir: str, *, how: str = "inner"
) -> DataFrame:
    """Flat dotted frame for the region → nation → customer hierarchy."""
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    df = (
        region.join(nation, region["r_regionkey"] == nation["n_regionkey"], how)
        .join(customer, nation["n_nationkey"] == customer["c_nationkey"], how)
    )
    cols = {
        "region.r_regionkey": df["r_regionkey"],
        "region.r_name": df["r_name"],
        "region.nation.n_nationkey": df["n_nationkey"],
        "region.nation.n_name": df["n_name"],
        "region.nation.customer.c_custkey": df["c_custkey"],
        "region.nation.customer.c_name": df["c_name"],
        "region.nation.customer.c_acctbal": df["c_acctbal"],
        "region.nation.customer.c_mktsegment": df["c_mktsegment"],
    }
    return df.select(*[v.alias(k) for k, v in cols.items()])


def flat_customer_orders(
    spark: SparkSession, sf_dir: str, *, how: str = "inner"
) -> DataFrame:
    """Flat dotted frame for the customer → orders hierarchy."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    df = customer.join(orders, customer["c_custkey"] == orders["o_custkey"], how)
    cols = {
        "customer.c_custkey": df["c_custkey"],
        "customer.c_name": df["c_name"],
        "customer.c_acctbal": df["c_acctbal"],
        "customer.orders.o_orderkey": df["o_orderkey"],
        "customer.orders.o_orderstatus": df["o_orderstatus"],
        "customer.orders.o_totalprice": df["o_totalprice"],
        "customer.orders.o_orderpriority": df["o_orderpriority"],
    }
    return df.select(*[v.alias(k) for k, v in cols.items()])


def flat_nation_customer_orders(
    spark: SparkSession, sf_dir: str, *, how: str = "inner"
) -> DataFrame:
    """Flat dotted frame for the nation → customer → orders hierarchy."""
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    df = (
        nation.join(customer, nation["n_nationkey"] == customer["c_nationkey"], how)
        .join(orders, customer["c_custkey"] == orders["o_custkey"], how)
    )
    cols = {
        "nation.n_nationkey": df["n_nationkey"],
        "nation.n_name": df["n_name"],
        "nation.customer.c_custkey": df["c_custkey"],
        "nation.customer.c_acctbal": df["c_acctbal"],
        "nation.customer.orders.o_orderkey": df["o_orderkey"],
        "nation.customer.orders.o_totalprice": df["o_totalprice"],
    }
    return df.select(*[v.alias(k) for k, v in cols.items()])


def flat_orders_lineitem(
    spark: SparkSession, sf_dir: str, *, how: str = "inner"
) -> DataFrame:
    """Flat dotted frame for the orders → lineitem hierarchy (bench-scale)."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    df = orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], how)
    cols = {
        "orders.o_orderkey": df["o_orderkey"],
        "orders.o_custkey": df["o_custkey"],
        "orders.o_orderstatus": df["o_orderstatus"],
        "orders.o_totalprice": df["o_totalprice"],
        "orders.lineitem.l_linenumber": df["l_linenumber"],
        "orders.lineitem.l_quantity": df["l_quantity"],
        "orders.lineitem.l_extendedprice": df["l_extendedprice"],
        "orders.lineitem.l_discount": df["l_discount"],
        "orders.lineitem.l_returnflag": df["l_returnflag"],
    }
    return df.select(*[v.alias(k) for k, v in cols.items()])


def write_sharded(
    df: DataFrame,
    path: str,
    id_col: str,
    *,
    n_shards: int,
    format: str = "parquet",
    mode: str = "overwrite",
    seed: int = 42,
) -> None:
    """Write training shards with DETERMINISTIC membership: every row's
    shard is the md5-hash bucket of its id (same family as
    ``sampling.hash_split``), so a re-run, a retried stage, or a
    different cluster layout writes the SAME shard contents — the
    property a resumable training job needs from its input listing
    (shard k can be re-read or re-materialized independently and
    identically).

    Output layout is ``path/shard=<k>/...`` (hive-partitioned, so a
    reader filtering on ``shard`` prunes directories). One shuffle-free
    projection plus the partitioned write's file fan-out; repartition by
    ``shard`` first yourself if you need exactly one file per shard.

    Sharding hashes directly into ``n_shards`` buckets (no second
    modulo over a coarser bucket space, which would bias shard sizes
    whenever ``n_shards`` doesn't divide it).

    .. note:: FORMAT BREAK (round 5): earlier revisions assigned
       ``hash_bucket(id) % n_shards`` over a 1,000,000-bucket space;
       ids now hash straight into ``n_shards``, so shard membership
       differs from datasets written by pre-round-5 code. Re-materialize
       old sharded datasets (or pin the old revision) before mixing —
       per-dataset determinism is unchanged, only the mapping moved.
       Pre-release framework, hence no compatibility shim.

    A NULL id fails the write
    (map-side ``assert_true``): silently routing NULLs to hive's
    ``__HIVE_DEFAULT_PARTITION__`` would break the deterministic
    re-read contract.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: {n_shards}")
    from polars_nexpresso_spark.functions.sampling import hash_bucket

    bucket = hash_bucket(F.col(id_col), seed, denom=n_shards)
    guard = F.assert_true(
        F.col(id_col).isNotNull(),
        F.lit(f"write_sharded: NULL {id_col!r} cannot be sharded"),
    )
    shard = F.when(guard.isNull(), bucket).alias("shard")
    df.withColumn("shard", shard).write.mode(mode).format(format).partitionBy(
        "shard"
    ).save(path)


_CORRUPT_COL = "_corrupt_record"


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema,
) -> tuple[DataFrame, DataFrame]:
    """Read JSON-lines with bad-record capture: returns
    ``(good, quarantine)`` where ``good`` rows parsed cleanly under
    ``schema`` and ``quarantine`` holds the raw text of every malformed
    line.

    The production-ingest contract: a handful of mangled lines in a
    million-file drop must neither kill the job (FAILFAST) nor vanish
    silently (DROPMALFORMED) — they land in a reviewable side channel.

    Implementation note: Spark's built-in JSON reader REFUSES plans
    whose scan references only its internal corrupt-record column
    (``QUERY_ONLY_CORRUPT_RECORD_COLUMN``), which makes the idiomatic
    "filter where corrupt is not null" quarantine branch an error
    unless the parsed frame is cached first. Reading the file as TEXT
    and parsing with ``from_json`` (PERMISSIVE + corrupt column in the
    struct) sidesteps the restriction with ONE scan and no cache; the
    raw line is already in hand for the quarantine output. An explicit
    ``schema`` is required — also the at-scale rule (no inference
    pass). JSON-lines only: it is the text interchange format the
    nested/packed representations roundtrip through (CSV cannot hold
    them; see :func:`read_any`).
    """
    from pyspark.sql.types import StringType, StructType

    if not isinstance(schema, StructType):
        raise ValueError("read_with_quarantine requires an explicit schema")
    full = StructType(schema.fields).add(_CORRUPT_COL, StringType())
    raw = spark.read.text(path)
    parsed = raw.select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            full,
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": _CORRUPT_COL,
            },
        ).alias("__d"),
    )
    bad = F.col("__d").isNull() | F.col(f"__d.{_CORRUPT_COL}").isNotNull()
    good = parsed.filter(~bad).select(
        *[F.col(f"__d.{f.name}").alias(f.name) for f in schema.fields]
    )
    quarantine = parsed.filter(bad).select(
        F.col("value").alias("raw_record")
    )
    return good, quarantine


def compact_files(
    spark: SparkSession,
    src: str,
    dest: str,
    *,
    target_file_mb: int = 128,
    format: str = "parquet",
) -> int:
    """Compact a directory of small files into ~``target_file_mb`` files
    at ``dest``; returns the output file count.

    The small-files maintenance pass every streaming/incremental sink
    eventually needs: micro-batches and per-task writers leave thousands
    of KB-scale files whose per-file open/footer/list overhead dominates
    scan time (and batters the namenode/object-store listing). One scan
    → ``repartition(n)`` (round-robin, so output files are size-balanced
    without any key assumption) → one write. ``n`` comes from Catalyst's
    driver-side size estimate, so nothing runs before the single
    compaction job. Content is preserved row-for-row; file-internal
    order is NOT (round-robin) — downstream consumers of this engine
    never depend on file order (packs order inside aggregations).

    ``dest`` and ``src`` must be disjoint paths: a same-path overwrite
    would delete the input mid-scan; a dest nested under src would be
    re-scanned by the integrity re-count (inflating it); a src nested
    under dest would be wiped by the overwrite. Paths are compared by
    ``realpath`` so symlinked equivalents are caught too.
    """
    real_src, real_dest = os.path.realpath(src), os.path.realpath(dest)
    if (
        real_src == real_dest
        or os.path.commonpath([real_src, real_dest]) in (real_src, real_dest)
    ):
        raise ValueError(
            "compact_files: src and dest must be disjoint paths "
            f"(got src={src!r}, dest={dest!r})"
        )
    df = spark.read.format(format).load(src)
    n = _file_count(df, target_file_mb * 1024 * 1024)
    df.repartition(n).write.mode("overwrite").format(format).save(dest)
    out = spark.read.format(format).load(dest)
    # File count from the read-back frame itself (input_file_name), not
    # os.listdir — correct on any filesystem Spark can read, not just
    # the local one.
    files = out.select(F.input_file_name()).distinct().count()
    # Validate row preservation cheaply (counts; content equality is the
    # caller's oracle if they need it). A real check, not an assert —
    # -O must not strip a data-integrity gate.
    n_out_rows, n_in_rows = out.count(), df.count()
    if n_out_rows != n_in_rows:
        raise RuntimeError(
            f"compaction row mismatch: wrote {n_out_rows}, read {n_in_rows}"
        )
    return int(files)


def write_ordered(
    df: DataFrame,
    path: str,
    order_col: str,
    *,
    tiebreak_col: str,
    descending: bool = False,
    n_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
    verify: bool = False,
) -> int:
    """Write ``df`` in GLOBAL order of ``order_col`` without a global
    sort: curriculum-ordered training corpora (easy→hard by a quality /
    difficulty score) read back in order by simply consuming part files
    in file-name order.

    The at-scale mechanism is ``repartitionByRange`` + per-partition
    sort: the range exchange samples the order key to pick ``n_files-1``
    split points, every partition holds a disjoint key range in
    partition-index order, and each sorts locally — NO single-task
    global sort anywhere (the same reason ``take_token_budget`` splits
    its running sum). Part-file names carry the partition index, so
    file-name order IS global order. Range boundaries come from
    sampling and may shift between runs; the ORDER guarantee is exact
    regardless — ``tiebreak_col`` (a unique id) is required precisely
    so equal scores have a deterministic total order.

    ``n_files`` defaults to Catalyst's driver-side size estimate at
    ~128 MB per file (the :func:`compact_files` rule). Returns the
    range-partition count (== files written unless a sampled range
    came out empty, which only happens when rows ≲ n_files — empty
    partitions emit no file). ``verify=True`` additionally re-reads the
    output for a row-count integrity check and a distinct-file-name
    count and returns THAT count — three extra jobs that re-scan the
    full output, so it is opt-in: at 100 TB the default write must
    cost one job, not four.
    """
    for c in (order_col, tiebreak_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    if n_files is None:
        n_files = _file_count(df, 128 * 1024 * 1024)
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1: {n_files}")
    keys = (
        [F.col(order_col).desc(), F.col(tiebreak_col).desc()]
        if descending
        else [F.col(order_col).asc(), F.col(tiebreak_col).asc()]
    )
    (
        df.repartitionByRange(int(n_files), *keys)
        .sortWithinPartitions(*keys)
        .write.mode(mode)
        .format(format)
        .save(path)
    )
    if not verify:
        return int(n_files)
    spark = df.sparkSession
    out = spark.read.format(format).load(path)
    n_out, n_in = out.count(), df.count()
    if n_out != n_in:
        raise RuntimeError(
            f"ordered write row mismatch: wrote {n_in}, read {n_out}"
        )
    return int(
        out.select(F.input_file_name()).distinct().count()
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    *,
    bits: int = 8,
    bucketing: str = "uniform",
    n_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> int:
    """Write ``df`` clustered along a Z-ORDER (Morton) curve of two or
    more columns — multi-dimensional data locality on disk, the
    Delta-Lake ``OPTIMIZE ZORDER BY`` idea: a reader filtering on ANY of
    the curve columns skips most part files on min/max statistics,
    where a plain sort buys locality on its leading column only and a
    filter on the second column reads everything
    (:func:`write_ordered` is the single-column special case and keeps
    the exact-order guarantee this writer deliberately trades away).

    Mechanism: each column maps to a ``2^bits``-cell grid —
    ``bucketing="uniform"`` (default) via ``width_bucket`` over the
    column's min/max (two driver scalars from ONE aggregation job;
    heavily skewed columns cluster into few cells and lose pruning
    power, the same caveat Delta documents), or
    ``bucketing="quantile"`` via ``approxQuantile`` split points (one
    extra pass, ~2^bits doubles per column on the driver — equal-mass
    cells that keep pruning power under skew; this is what Delta's
    range-id interleaving does) —
    the per-column cell indices bit-interleave into one Morton key
    (column ``j`` owns interleaved bit position ``i·ncols + j`` — a
    pure JVM bit-arithmetic projection, built once, codegen-friendly),
    and the write is ``repartitionByRange`` on that key + local sort —
    the :func:`write_ordered` shape: range sampling picks split
    points, every executor sorts only its partition, NO global sort.
    NULL values in a curve column map to cell 0 (they cluster at the
    curve origin rather than scattering).

    ``n_files`` defaults to the ~128 MB Catalyst size estimate. The
    Morton key is a write-layout artifact and is NOT persisted.
    Returns the range-partition count.
    """
    if len(zorder_cols) < 2:
        raise ValueError(
            f"z-ordering needs >= 2 columns (use write_ordered for one): "
            f"{zorder_cols}"
        )
    for c in zorder_cols:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    n_cols = len(zorder_cols)
    if bits < 1 or bits * n_cols > 62:
        raise ValueError(
            f"bits * len(zorder_cols) must be in [1, 62]: {bits}*{n_cols}"
        )
    if bucketing not in ("uniform", "quantile"):
        raise ValueError(
            f"bucketing must be 'uniform' or 'quantile': {bucketing!r}"
        )
    if bucketing == "quantile" and bits > 12:
        # the approxQuantile pass computes 2^bits - 1 split points per
        # column; past ~4096 cells the driver-side quantile sketch and
        # the split-array literal dominate with no pruning benefit
        raise ValueError(
            f"quantile bucketing supports bits <= 12 (got {bits}); "
            "use bucketing='uniform' for finer grids"
        )
    if n_files is None:
        n_files = _file_count(df, 128 * 1024 * 1024)
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1: {n_files}")

    n_cells = 1 << bits
    buckets: list = []
    if bucketing == "quantile":
        # One approxQuantile pass (bounded error, driver gets ~2^bits
        # doubles per column); equal-mass cells survive skew. Duplicate
        # split points (heavy ties) are collapsed — the curve simply
        # uses fewer distinct cells on that axis.
        probs = [i / n_cells for i in range(1, n_cells)]
        qs = df.stat.approxQuantile(
            [c for c in zorder_cols], probs, 0.001
        )
        for j, c in enumerate(zorder_cols):
            splits = sorted(set(qs[j])) if qs[j] else []
            if not splits:
                buckets.append(F.lit(0).cast("long"))
                continue
            v = F.col(c).cast("double")
            # bucket = number of split points <= value, as ONE
            # size(filter(splits_array)) expression rather than a chain
            # of 2^bits - 1 when-terms (which hangs the driver building
            # Column objects at high bits). A NULL value fails every
            # comparison, so the filter drops all elements and the
            # bucket is 0 — NULLs cluster at the curve origin.
            splits_arr = F.array(*[F.lit(float(sp)) for sp in splits])
            b_expr = F.size(F.filter(splits_arr, lambda sp: v >= sp))
            buckets.append(
                F.greatest(b_expr, F.lit(0)).cast("long")
            )
    else:
        # One job fetches every column's (min, max); scalars embed as
        # literals so the bucket projection is action-free from here on.
        stats = df.agg(
            *[F.min(c).alias(f"__lo_{j}") for j, c in enumerate(zorder_cols)],
            *[F.max(c).alias(f"__hi_{j}") for j, c in enumerate(zorder_cols)],
        ).collect()[0]
        for j, c in enumerate(zorder_cols):
            lo, hi = stats[f"__lo_{j}"], stats[f"__hi_{j}"]
            if lo is None or hi is None or float(lo) == float(hi):
                buckets.append(F.lit(0).cast("long"))
                continue
            wb = F.width_bucket(
                F.col(c).cast("double"),
                F.lit(float(lo)),
                F.lit(float(hi)),
                F.lit(n_cells),
            )
            buckets.append(
                F.least(
                    F.greatest(
                        F.coalesce(wb, F.lit(1)) - F.lit(1), F.lit(0)
                    ),
                    F.lit(n_cells - 1),
                ).cast("long")
            )
    z = None
    for j, c in enumerate(zorder_cols):
        bucket = buckets[j]
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                i * n_cols + j,
            )
            z = term if z is None else z.bitwiseOR(term)
    (
        df.withColumn("__z", z)
        .repartitionByRange(int(n_files), F.col("__z").asc())
        .sortWithinPartitions(F.col("__z").asc())
        .drop("__z")
        .write.mode(mode)
        .format(format)
        .save(path)
    )
    return int(n_files)


def write_curriculum(
    df: DataFrame,
    path: str,
    *,
    stage_col: str = "stage",
    shard_col: str = "shard",
    pos_col: str = "pos",
    format: str = "parquet",
    mode: str = "overwrite",
) -> int:
    """Materialize a :func:`~polars_nexpresso_spark.functions.sampling
    .curriculum_shards` plan as loader-ready files: one hive partition
    directory per ``(stage, shard)`` whose rows are stored in ``pos``
    order, so a sequential reader replays the curriculum order with NO
    sort at training time — the read side is the hot path repeated
    every epoch; paying the ordering once at write time is the whole
    point of materializing the plan.

    Shape: one ``repartition`` keyed on ``(stage, shard)`` co-locates
    each pair in a task (task count = distinct pair count, so every
    reducer owns whole shards), a per-task ``sortWithinPartitions`` on
    ``(stage, shard, pos)`` orders each output file — NO global sort —
    and ``partitionBy`` routes rows into their directories. Row order
    within a parquet file is the written order, which parquet preserves
    on scan.

    Returns the ``(stage, shard)`` pair count (= write tasks).
    """
    for c in (stage_col, shard_col, pos_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    n_pairs = df.select(stage_col, shard_col).distinct().count()
    if n_pairs < 1:
        raise ValueError("input has no (stage, shard) pairs")
    (
        df.repartition(int(n_pairs), F.col(stage_col), F.col(shard_col))
        .sortWithinPartitions(stage_col, shard_col, pos_col)
        .write.mode(mode)
        .format(format)
        .partitionBy(stage_col, shard_col)
        .save(path)
    )
    return int(n_pairs)
