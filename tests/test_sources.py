"""Multi-format source/sink helpers: extension-based dispatch, CSV flat
roundtrip, nested-JSON roundtrip of a packed hierarchy, hive partitioning.

The reference reads/writes parquet only (SURVEY.md §2.F); these are the
ingest-interchange extensions a pipeline needs at the edges. Parquet stays
the hot-path format — tests pin that nested structures survive JSON lines
and that CSV (no nested support) carries the flat representation.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from polars_nexpresso_spark import HierarchicalPacker, HierarchySpec, LevelSpec, qcol
from polars_nexpresso_spark.sources.io import read_any, read_table, write_any
from tests.conftest import assert_same_rows


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pns_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_flat_roundtrip_with_schema(spark, tmpdir):
    """Flat table → CSV → back with explicit schema: values and types hold."""
    nation = read_table(spark, "/root/testdata/sf0.001", "nation")
    path = os.path.join(tmpdir, "nation.csv")
    write_any(nation, path)
    restored = read_any(spark, path, schema=nation.schema)
    assert restored.schema == nation.schema
    assert_same_rows(nation, restored)


def test_csv_infer_schema_fallback(spark, tmpdir):
    """Without a schema, header+inference is enabled (small-data path)."""
    df = spark.createDataFrame([(1, "a", 2.5), (2, "b", 3.5)], ["id", "s", "x"])
    path = os.path.join(tmpdir, "t.csv")
    write_any(df, path)
    got = read_any(spark, path)
    assert set(got.columns) == {"id", "s", "x"}
    assert dict(got.dtypes)["x"] == "double"
    assert got.count() == 2


def test_json_packed_hierarchy_roundtrip(spark, tmpdir):
    """Packed (nested structs + child lists) → JSON lines → back with the
    packed schema: the hierarchy survives a row-format hop intact."""
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="country", id_fields=["code"]),
            LevelSpec(
                name="city", id_fields=["id"], order_by=[qcol("country.city.id")]
            ),
        ]
    )
    packer = HierarchicalPacker(spec)
    flat = spark.createDataFrame(
        [
            ("US", "NYC", 8.4),
            ("US", "LA", 3.9),
            ("CA", "TOR", 2.8),
        ],
        ["country.code", "country.city.id", "country.city.pop"],
    )
    packed = packer.pack(flat, "country")
    path = os.path.join(tmpdir, "packed.jsonl")
    write_any(packed, path)
    restored = read_any(spark, path, schema=packed.schema)
    # JSON sources mark all fields nullable; types/structure must be identical
    assert restored.schema.simpleString() == packed.schema.simpleString()
    assert_same_rows(packed, restored)
    # and the restored frame unpacks to the original flat rows
    assert_same_rows(packer.unpack(restored, "city"), flat)


def test_format_override_and_orc(spark, tmpdir):
    """Explicit format= wins over the extension; ORC roundtrips."""
    df = spark.createDataFrame([(1, "a")], ["id", "s"])
    path = os.path.join(tmpdir, "data.out")
    write_any(df, path, format="orc")
    got = read_any(spark, path, format="orc")
    assert_same_rows(df, got)


def test_partitioned_write_prunes_directories(spark, tmpdir):
    """partition_by lays out hive dirs; a filter on the partition column
    reads only matching directories (PartitionFilters, not a data filter)."""
    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de")], ["doc_id", "lang"]
    )
    path = os.path.join(tmpdir, "docs.parquet")
    write_any(df, path, partition_by=["lang"])
    assert os.path.isdir(os.path.join(path, "lang=en"))
    got = read_any(spark, path).filter("lang = 'en'")
    assert got.count() == 2
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_write_sharded_deterministic_membership(spark, tmp_path):
    from polars_nexpresso_spark.sources.io import write_sharded

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], ["doc_id", "text"]
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_sharded(df, p1, "doc_id", n_shards=4)
    # different partitioning, same membership
    write_sharded(df.repartition(7), p2, "doc_id", n_shards=4)
    r1 = spark.read.parquet(p1).select("doc_id", "shard")
    r2 = spark.read.parquet(p2).select("doc_id", "shard")
    m1 = {r["doc_id"]: r["shard"] for r in r1.collect()}
    m2 = {r["doc_id"]: r["shard"] for r in r2.collect()}
    assert m1 == m2 and len(m1) == 100
    assert set(m1.values()) == {0, 1, 2, 3}
    # hive layout prunes on shard
    pruned = spark.read.parquet(p1).filter("shard = 2")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_read_with_quarantine_splits_bad_json(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from polars_nexpresso_spark.sources.io import read_with_quarantine

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        '{"doc_id": 2, "text": "also good"}\n'
        'this is not json at all\n'
        '{"doc_id": "not-a-number", "text": "type mismatch"}\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    good, quarantine = read_with_quarantine(spark, str(p), schema)
    assert {r["doc_id"] for r in good.collect()} == {1, 2}
    bad = [r["raw_record"] for r in quarantine.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("not-a-number" in b for b in bad)


def test_read_with_quarantine_validates(spark, tmp_path):
    import pytest as _pytest

    from polars_nexpresso_spark.sources.io import read_with_quarantine

    with _pytest.raises(ValueError, match="schema"):
        read_with_quarantine(spark, "x.jsonl", schema=None)


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    from polars_nexpresso_spark.sources.io import compact_files

    src, dest = str(tmp_path / "small"), str(tmp_path / "big")
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(2000)], ["doc_id", "text"]
    )
    df.repartition(40).write.parquet(src)
    import os as _os

    n_in = len([f for f in _os.listdir(src) if f.endswith(".parquet")])
    assert n_in >= 30
    n_out = compact_files(spark, src, dest, target_file_mb=128)
    assert 1 <= n_out < n_in
    got = {r["doc_id"] for r in spark.read.parquet(dest).collect()}
    assert got == set(range(2000))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disjoint"):
        compact_files(spark, src, src)


def test_compact_files_rejects_nested_paths(spark, tmp_path):
    import pytest as _pytest

    from polars_nexpresso_spark.sources.io import compact_files

    src = str(tmp_path / "small")
    spark.createDataFrame([(1, "x")], ["doc_id", "text"]).write.parquet(src)
    # dest under src: the integrity re-count would re-scan dest files
    with _pytest.raises(ValueError, match="disjoint"):
        compact_files(spark, src, src + "/compacted")
    # src under dest: the overwrite would wipe the input
    with _pytest.raises(ValueError, match="disjoint"):
        compact_files(spark, src, str(tmp_path))
    # symlinked equivalent of src is caught via realpath
    import os as _os

    link = str(tmp_path / "link")
    _os.symlink(src, link)
    with _pytest.raises(ValueError, match="disjoint"):
        compact_files(spark, src, link)


def test_write_sharded_unbiased_and_null_safe(spark, tmp_path):
    import pytest as _pytest

    from polars_nexpresso_spark.sources.io import write_sharded

    # n_shards=7 doesn't divide the legacy 1_000_000 bucket space; direct
    # hashing keeps every shard populated and roughly balanced.
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(700)], ["doc_id", "text"]
    )
    p = str(tmp_path / "seven")
    write_sharded(df, p, "doc_id", n_shards=7)
    sizes = {
        r["shard"]: r["n"]
        for r in spark.read.parquet(p).groupBy("shard").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert set(sizes) == set(range(7))
    assert max(sizes.values()) < 3 * min(sizes.values())

    nulls = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="NULL 'doc_id'"):
        write_sharded(nulls, str(tmp_path / "nulls"), "doc_id", n_shards=2)


def test_write_ordered_global_order_across_files(spark, tmp_path):
    """File-name order IS global order: concatenating part files sorted
    by name yields the exact (score, id) sort — the curriculum-read
    contract — with no single-task global sort in the plan."""
    import glob

    import pyarrow.parquet as pq

    from polars_nexpresso_spark.functions import sampling
    from polars_nexpresso_spark.sources.io import write_ordered

    df = spark.createDataFrame(
        [(i, float((i * 37) % 100)) for i in range(1000)],
        "doc_id bigint, score double",
    ).repartition(8)
    dest = str(tmp_path / "curriculum")
    n = write_ordered(df, dest, "score", tiebreak_col="doc_id", n_files=5)
    assert n == 5
    got = []
    for f in sorted(glob.glob(f"{dest}/part-*")):
        t = pq.read_table(f)
        got.extend(
            zip(t.column("score").to_pylist(), t.column("doc_id").to_pylist())
        )
    assert len(got) == 1000
    assert got == sorted(got)

    # descending flips the global order
    dest2 = str(tmp_path / "curriculum_desc")
    write_ordered(
        df, dest2, "score", tiebreak_col="doc_id", descending=True, n_files=3
    )
    got2 = []
    for f in sorted(glob.glob(f"{dest2}/part-*")):
        t = pq.read_table(f)
        got2.extend(
            zip(t.column("score").to_pylist(), t.column("doc_id").to_pylist())
        )
    assert got2 == sorted(got2, key=lambda x: (-x[0], -x[1]))


def test_write_ordered_default_runs_no_post_write_jobs(spark, tmp_path):
    """By default write_ordered must cost the write itself (range-key
    sampling job + write job) and nothing more; verify=True opts into
    the output re-read (row-count check + distinct-file-name scan),
    which at 100 TB would re-scan everything written."""
    from polars_nexpresso_spark.sources.io import write_ordered

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(200)],
        "doc_id bigint, score double",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("wo_default", "write_ordered default")
    n = write_ordered(
        df, str(tmp_path / "plain"), "score", tiebreak_col="doc_id",
        n_files=3,
    )
    jobs_default = len(tracker.getJobIdsForGroup("wo_default"))

    sc.setJobGroup("wo_verify", "write_ordered verify")
    n_v = write_ordered(
        df, str(tmp_path / "checked"), "score", tiebreak_col="doc_id",
        n_files=3, verify=True,
    )
    jobs_verify = len(tracker.getJobIdsForGroup("wo_verify"))
    sc.setJobGroup("wo_done", "")

    assert n == 3 and n_v == 3
    # range-key sampling + AQE-materialized exchange + write — but no
    # post-write re-read jobs
    assert jobs_default <= 3, f"default ran {jobs_default} jobs"
    # verify re-reads: at least the two counts and the file-name scan
    assert jobs_verify >= jobs_default + 3


def _statless_frame(spark):
    """An RDD-backed frame: Catalyst has no size statistics for it."""
    return spark.sparkContext.parallelize(
        [(i, float(i % 7)) for i in range(50)], 2
    ).toDF("doc_id bigint, score double")


def test_write_ordered_accepts_statless_input(spark, tmp_path):
    """With no size statistics the default file count falls back to one
    range partition instead of overflowing the repartition count."""
    from polars_nexpresso_spark.sources.io import write_ordered

    dest = str(tmp_path / "ordered")
    assert write_ordered(_statless_frame(spark), dest, "score", tiebreak_col="doc_id") == 1
    assert spark.read.parquet(dest).count() == 50


def test_write_zordered_accepts_statless_input(spark, tmp_path):
    from polars_nexpresso_spark.sources.io import write_zordered

    dest = str(tmp_path / "zordered")
    assert write_zordered(_statless_frame(spark), dest, ["doc_id", "score"], bits=3) == 1
    assert spark.read.parquet(dest).count() == 50


def test_file_count_from_plan_size(spark, tmp_path):
    """compact_files / write_ordered / write_zordered share one file-count
    rule: ~one file per bytes_per_file of Catalyst estimate, and one file
    when the size is unknown."""
    from polars_nexpresso_spark.plans.stats import plan_size_bytes
    from polars_nexpresso_spark.sources.io import _file_count

    assert _file_count(_statless_frame(spark), 1) == 1
    path = str(tmp_path / "sized.parquet")
    spark.range(1000).write.parquet(path)
    scan = spark.read.parquet(path)
    est = plan_size_bytes(scan)
    assert _file_count(scan, 128 * 1024 * 1024) == 1
    assert _file_count(scan, est) == 2
    assert _file_count(scan, est + 1) == 1


def test_spread_reads_size_suffixed_max_partition_bytes(spark):
    """maxPartitionBytes="1t" is 2^40 bytes, so a 1-partition 100-row
    range is under target x maxPartitionBytes and gets spread."""
    from polars_nexpresso_spark.sources.io import spread

    key = "spark.sql.files.maxPartitionBytes"
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, 1)
    spark.conf.set(key, "1t")
    try:
        assert spread(df).rdd.getNumPartitions() == target
    finally:
        spark.conf.unset(key)


def test_spread_passes_statless_input_through(spark):
    from polars_nexpresso_spark.sources.io import spread

    df = _statless_frame(spark)
    assert spread(df) is df


def test_write_ordered_plan_is_range_partitioned(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id bigint, score double"
    )
    shaped = df.repartitionByRange(
        4, F.col("score").asc(), F.col("doc_id").asc()
    ).sortWithinPartitions(F.col("score").asc(), F.col("doc_id").asc())
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # local sorts only ("Sort [...], false, 0") — no global Sort
    # ("Sort [...], true, 0") anywhere in the plan
    assert "Sort [score" in plan and "], false" in plan
    assert "], true" not in plan


def test_write_ordered_validation(spark, tmp_path):
    from polars_nexpresso_spark.sources.io import write_ordered

    df = spark.createDataFrame(
        [(1, 1.0)], "doc_id bigint, score double"
    )
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_ordered(df, str(tmp_path / "x"), "quality", tiebreak_col="doc_id")
    with pytest.raises(ValueError, match="n_files"):
        write_ordered(
            df, str(tmp_path / "x"), "score", tiebreak_col="doc_id", n_files=0
        )


def test_write_curriculum_files_replay_pos_order(spark, tmp_path):
    """Each (stage, shard) hive directory reads back in pos order with
    no sort — the property the training loader relies on — and the
    directory set matches the plan's pairs exactly."""
    from polars_nexpresso_spark.functions.sampling import curriculum_shards
    from polars_nexpresso_spark.sources.io import write_curriculum

    df = spark.createDataFrame(
        [(i, (i * 41) % 97) for i in range(200)],
        "doc_id long, score int",
    )
    plan = curriculum_shards(df, "score", "doc_id", n_stages=3, n_shards=2)
    p = str(tmp_path / "curr")
    n = write_curriculum(plan, p)
    assert n == 6
    out = spark.read.parquet(p)
    assert out.count() == 200
    import itertools

    for stage, shard in itertools.product(
        ("stage0", "stage1", "stage2"), (0, 1)
    ):
        rows = spark.read.parquet(
            f"{p}/stage={stage}/shard={shard}"
        ).collect()
        pos_as_read = [r["pos"] for r in rows]
        assert pos_as_read == sorted(pos_as_read)
        assert pos_as_read[0] == 1
    with pytest.raises(ValueError, match="column"):
        write_curriculum(df, p)


def test_write_curriculum_composes_with_registry_plan(spark, tmp_path):
    """End-to-end composition (VERDICT r09 item 6): materializing the
    REAL sf0.01 curriculum_shards registry plan and reading each
    (stage, shard) directory back in FILE order — no sort, the training
    loader's actual access pattern — replays the exact (stage, shard,
    pos → doc_id) sequence of the plan itself. This is the stage
    interaction the separate tests can't see: the write's repartition +
    sortWithinPartitions + partitionBy must preserve precisely the
    order the plan assigned."""
    import itertools

    import __spark_entry__ as em

    from polars_nexpresso_spark.sources.io import write_curriculum

    plan = em.queries()["curriculum_shards"](spark, "/root/testdata/sf0.01")
    p = str(tmp_path / "curr_e2e")
    n_pairs = write_curriculum(plan, p)
    assert n_pairs == 12  # 3 stages x 4 shards
    expected = {}
    for r in plan.collect():
        expected.setdefault((r["stage"], r["shard"]), []).append(
            (r["pos"], r["doc_id"])
        )
    stages = sorted({k[0] for k in expected})
    shards = sorted({k[1] for k in expected})
    total = 0
    for stage, shard in itertools.product(stages, shards):
        # file order, NOT pos order: no orderBy on the read side
        got = [
            r["doc_id"]
            for r in spark.read.parquet(
                f"{p}/stage={stage}/shard={shard}"
            ).collect()
        ]
        want = [d for _, d in sorted(expected[(stage, shard)])]
        assert got == want, (stage, shard)
        total += len(got)
    assert total == plan.count()
