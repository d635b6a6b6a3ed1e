"""Core packer tests — ported semantics from the reference suite
(``tests/test_hierarchical_packer.py``): roundtrip, split_join equivalence,
key aliases, packing levels, cross-level algebra goldens (F2 fixture),
existential predicates, validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_nexpresso_spark import (
    HierarchicalPacker,
    HierarchySpec,
    HierarchyValidationError,
    LevelAttribute,
    LevelSpec,
    qcol,
)
from tests.conftest import assert_same_rows, canonical_rows

TEST_HIERARCHY = HierarchySpec(
    levels=[
        LevelSpec(name="country", id_fields=["code"]),
        LevelSpec(name="city", id_fields=["id", "name"]),
        LevelSpec(name="street", id_fields=["name"]),
        LevelSpec(name="building", id_fields=["number"]),
        LevelSpec(name="apartment", id_fields=["id"], required_fields=["id"]),
    ],
    key_aliases={"country.code": "country.city.id"},
)


@pytest.fixture()
def packer():
    return HierarchicalPacker(TEST_HIERARCHY)


@pytest.fixture()
def apartment_level_df(spark):
    data = {
        "country.code": ["US", "US", "US", "CA"],
        "country.city.id": ["NYC", "NYC", "NYC", "TOR"],
        "country.city.name": ["New York", "New York", "New York", "Toronto"],
        "country.city.street.name": ["Main St", "Main St", "Main St", "Queen St"],
        "country.city.street.building.number": [100, 100, 101, 200],
        "country.city.street.building.id": ["bldg-100", "bldg-100", "bldg-101", "bldg-200"],
        "country.city.street.building.apartment.id": ["apt-1", "apt-2", "apt-3", "apt-4"],
        "country.city.street.building.apartment.area": [50.5, 75.0, 90.2, 60.8],
    }
    rows = list(zip(*data.values()))
    return spark.createDataFrame(rows, schema=list(data.keys()))


def test_pack_unpack_roundtrip(packer, apartment_level_df):
    street_level = packer.pack(apartment_level_df, "street")
    assert "country.city.street" in street_level.columns

    unpacked = packer.unpack(street_level, "apartment")
    assert_same_rows(unpacked, apartment_level_df)


@pytest.mark.parametrize("to_level", ["country", "city", "street", "building", "apartment"])
def test_pack_unpack_roundtrip_all_levels(packer, apartment_level_df, to_level):
    packed = packer.pack(apartment_level_df, to_level)
    unpacked = packer.unpack(packed, "apartment")
    assert_same_rows(unpacked, apartment_level_df)


def test_pack_to_root_collapses_struct(packer, apartment_level_df):
    packed = packer.pack(apartment_level_df, "country")
    assert packed.columns == ["country"]
    assert packed.count() == 2  # US, CA


@pytest.fixture()
def apartment_df_with_root_attrs(apartment_level_df):
    is_us = qcol("country.code") == "US"
    return apartment_level_df.withColumns(
        {
            "country.name": F.when(is_us, F.lit("United States")).otherwise(F.lit("Canada")),
            "country.population": F.when(is_us, F.lit(331)).otherwise(F.lit(38)),
        }
    )


@pytest.mark.parametrize("to_level", ["country", "street"])
def test_pack_split_join_matches_aggregate(packer, apartment_df_with_root_attrs, to_level):
    aggregated = packer.pack(apartment_df_with_root_attrs, to_level)
    split_joined = packer.pack(
        apartment_df_with_root_attrs, to_level, parent_strategy="split_join"
    )
    assert_same_rows(aggregated, split_joined)


def test_pack_split_join_without_root_attrs_falls_back(packer, apartment_level_df):
    aggregated = packer.pack(apartment_level_df, "street")
    split_joined = packer.pack(
        apartment_level_df, "street", parent_strategy="split_join"
    )
    assert_same_rows(aggregated, split_joined)


def test_parent_strategy_auto_dispatch(packer, apartment_df_with_root_attrs):
    # scalar root attrs (string + int): plain aggregation already dedups
    # them map-side — auto stays on the aggregate path
    assert (
        packer._choose_parent_strategy(apartment_df_with_root_attrs)
        == "aggregate"
    )
    # a complex-typed root attr (array payload) routes to split_join
    heavy = apartment_df_with_root_attrs.withColumn(
        "country.payload",
        F.array_repeat(qcol("country.population").cast("double"), 8),
    )
    assert packer._choose_parent_strategy(heavy) == "split_join"
    # results are identical either way (the strategy is pure plan shape)
    for to_level in ("country", "street"):
        assert_same_rows(
            packer.pack(heavy, to_level),
            packer.pack(heavy, to_level, parent_strategy="auto"),
        )


def test_pack_split_join_unordered_packer(apartment_df_with_root_attrs):
    """split_join with preserve_child_order=False (no internal row id):
    the content-fingerprint rep path works without the row-id column and
    the result matches the aggregate strategy."""
    unordered = HierarchicalPacker(TEST_HIERARCHY, preserve_child_order=False)
    aggregated = unordered.pack(apartment_df_with_root_attrs, "street")
    split_joined = unordered.pack(
        apartment_df_with_root_attrs, "street", parent_strategy="split_join"
    )
    assert sorted(aggregated.columns) == sorted(split_joined.columns)
    assert aggregated.count() == split_joined.count()
    # Root attrs reattached on every row (the round-4 row-id bug dropped
    # some roots to null here).
    assert (
        split_joined.filter(qcol("country.name").isNull()).count() == 0
    )


def test_pack_split_join_with_skew_salt(packer, apartment_df_with_root_attrs):
    """skew_salt reaches the structural pack under split_join (it was
    silently dropped before round 4) and results still match."""
    plain = packer.pack(apartment_df_with_root_attrs, "street")
    salted = packer.pack(
        apartment_df_with_root_attrs,
        "street",
        parent_strategy="split_join",
        skew_salt=4,
    )
    assert_same_rows(plain, salted)


def test_pack_handles_missing_country_code_alias(packer, apartment_level_df):
    df_no_code = apartment_level_df.drop("country.code")
    packed = packer.pack(df_no_code, "street")
    unpacked = packer.unpack(packed, "apartment")
    # The alias column country.code was cloned from country.city.id and
    # dropped again from outputs.
    assert "country.code" not in unpacked.columns
    assert_same_rows(unpacked, df_no_code)


def test_null_recovery_order_independent(spark):
    """Parent attributes collapse with first(ignorenulls): a null gap on one
    row must recover the non-null value regardless of row order (reference
    tests/test_streaming.py:72-96)."""
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="country", id_fields=["id"]),
            LevelSpec(name="city", id_fields=["id"]),
        ]
    )
    packer = HierarchicalPacker(spec)
    rows = [
        ("C0", None, "city0"),
        ("C0", "USA", "city1"),
        ("C0", None, "city2"),
        ("C1", "Canada", "city3"),
    ]
    df = spark.createDataFrame(rows, ["country.id", "country.name", "country.city.id"])
    packed = packer.pack(df, "city")
    got = {r["country.id"]: r["country.name"] for r in packed.collect()}
    assert got == {"C0": "USA", "C1": "Canada"}


def test_order_by_child_order(spark):
    """LevelSpec.order_by gives contractual child-list ordering."""
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="country", id_fields=["id"]),
            LevelSpec(
                name="city",
                id_fields=["id"],
                order_by=[qcol("country.city.rank")],
            ),
        ]
    )
    packer = HierarchicalPacker(spec)
    rows = [
        ("C0", "b", 2),
        ("C0", "c", 3),
        ("C0", "a", 1),
        ("C1", "z", 9),
    ]
    df = spark.createDataFrame(rows, ["country.id", "country.city.id", "country.city.rank"])
    packed = packer.pack(df, "city")
    by_country = {r["country.id"]: [c["id"] for c in r["country.city"]] for r in packed.collect()}
    assert by_country == {"C0": ["a", "b", "c"], "C1": ["z"]}


def test_preserve_child_order_input_order(spark):
    """Without order_by, child order follows input order (best-effort via the
    row id — deterministic in local single-stage plans)."""
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="p", id_fields=["id"]),
            LevelSpec(name="c", id_fields=["id"]),
        ]
    )
    packer = HierarchicalPacker(spec)
    rows = [("P0", f"c{i}") for i in range(8)]
    df = spark.createDataFrame(rows, ["p.id", "p.c.id"]).coalesce(1)
    packed = packer.pack(df, "c")
    children = [c["id"] for c in packed.collect()[0]["p.c"]]
    assert children == [f"c{i}" for i in range(8)]


def test_extra_columns_modes(spark, packer, apartment_level_df):
    df = apartment_level_df.withColumn("extra_note", F.lit("x"))
    # preserve (default): kept, aggregated first(ignorenulls)
    packed = packer.pack(df, "street")
    assert "extra_note" in packed.columns
    # drop
    packed_drop = packer.pack(df, "street", extra_columns="drop")
    assert "extra_note" not in packed_drop.columns
    # error
    with pytest.raises(HierarchyValidationError):
        packer.pack(df, "street", extra_columns="error")


def test_validate_on_pack_non_uniform(spark):
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="parent", id_fields=["id"]),
            LevelSpec(name="child", id_fields=["id"]),
        ]
    )
    packer = HierarchicalPacker(spec, validate_on_pack=True)
    rows = [
        ("p1", "Alice", "c1"),
        ("p1", "Bob", "c2"),  # non-uniform parent.name within p1
    ]
    df = spark.createDataFrame(rows, ["parent.id", "parent.name", "parent.child.id"])
    with pytest.raises(HierarchyValidationError):
        packer.pack(df, "child")


def test_validate_null_keys(spark):
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="parent", id_fields=["id"]),
            LevelSpec(name="child", id_fields=["id"]),
        ]
    )
    packer = HierarchicalPacker(spec)
    df = spark.createDataFrame(
        [("p1", "c1"), (None, "c2"), ("p3", "c3")], ["parent.id", "parent.child.id"]
    )
    with pytest.raises(HierarchyValidationError):
        packer.validate(df)
    errors = packer.validate(df, raise_on_error=False)
    assert len(errors) == 1
    assert errors[0].level == "parent"


# ---------------------------------------------------------------------------
# Cross-level algebra — F2 fixture goldens
# ---------------------------------------------------------------------------

CROSS_SPEC = HierarchySpec(
    levels=[
        LevelSpec(name="country", id_fields=["code"]),
        LevelSpec(name="city", id_fields=["id"]),
        LevelSpec(name="street", id_fields=["name"]),
    ]
)


@pytest.fixture()
def cross_level_df(spark):
    rows = [
        ("US", "United States", "NYC", 8_000_000, "Broadway", 21.0),
        ("US", "United States", "NYC", 8_000_000, "5th Ave", 10.0),
        ("US", "United States", "LA", 4_000_000, "Sunset Blvd", 35.0),
        ("CA", "Canada", "TOR", 3_000_000, "Yonge St", 5.0),
        ("CA", "Canada", "TOR", 3_000_000, "Bay St", 3.0),
    ]
    return spark.createDataFrame(
        rows,
        [
            "country.code",
            "country.name",
            "country.city.id",
            "country.city.population",
            "country.city.street.name",
            "country.city.street.length_km",
        ],
    )


def test_promote_attribute_sum_golden(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    result = packer.promote_attribute(
        cross_level_df, "population", from_level="city", to_level="country", agg="sum"
    )
    got = {r["country.code"]: r["country.population"] for r in result.collect()}
    assert got == {"US": 12_000_000, "CA": 3_000_000}


def test_attribute_expr_aggregations_golden(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "street")  # streets packed per city
    nyc = packed.filter(qcol("country.city.id") == "NYC")
    exprs = {
        agg: packer.attribute_expr("length_km", "street", "city", agg)
        for agg in ["sum", "mean", "count", "min", "max"]
    }
    row = nyc.select(*[e.alias(a) for a, e in exprs.items()]).collect()[0]
    assert row["sum"] == pytest.approx(31.0)
    assert row["mean"] == pytest.approx(15.5)
    assert row["count"] == 2
    assert row["min"] == pytest.approx(10.0)
    assert row["max"] == pytest.approx(21.0)


def test_attribute_expr_multi_hop_count_sums_inner(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "city")  # cities (with streets) per country
    expr = packer.attribute_expr("name", "street", "country", "count")
    got = {
        r["country.code"]: r["n"]
        for r in packed.select(qcol("country.code"), expr.alias("n")).collect()
    }
    assert got == {"US": 3, "CA": 2}  # total streets, not city counts


def test_enrich_multiple(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "city")
    result = packer.enrich(
        packed,
        LevelAttribute("id", "city", "count", alias="city_count"),
        LevelAttribute("population", "city", "sum", alias="total_pop"),
        at_level="country",
    )
    got = {
        r["country.code"]: (r["country.city_count"], r["country.total_pop"])
        for r in result.collect()
    }
    assert got == {"US": (2, 12_000_000), "CA": (1, 3_000_000)}


def test_any_child_satisfies(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "city")
    result = packer.any_child_satisfies(
        packed,
        from_level="city",
        to_level="country",
        condition=lambda e: e["population"] > 5_000_000,
    )
    codes = sorted(r["country.code"] for r in result.collect())
    assert codes == ["US"]


def test_all_children_satisfy_and_vacuous_truth(spark, cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "city")
    result = packer.all_children_satisfy(
        packed,
        from_level="city",
        to_level="country",
        condition=lambda e: e["population"] >= 3_000_000,
    )
    codes = sorted(r["country.code"] for r in result.collect())
    assert codes == ["CA", "US"]

    stricter = packer.all_children_satisfy(
        packed,
        from_level="city",
        to_level="country",
        condition=lambda e: e["population"] > 3_000_000,
    )
    assert sorted(r["country.code"] for r in stricter.collect()) == ["US"]


def test_attribute_expr_composable_in_filter(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "city")
    expr = packer.attribute_expr("population", "city", "country", "sum")
    big = packed.filter(expr > 5_000_000)
    assert [r["country.code"] for r in big.collect()] == ["US"]


def test_attribute_expr_rejects_coarser_source(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    with pytest.raises(ValueError):
        packer.attribute_expr("name", "country", "city", "sum")


def test_promote_requires_immediate_child(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    with pytest.raises(ValueError):
        packer.promote_attribute(
            cross_level_df, "length_km", from_level="street", to_level="country"
        )


def test_promote_missing_attribute_raises(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    with pytest.raises(ValueError):
        packer.promote_attribute(
            cross_level_df, "nonexistent", from_level="city", to_level="country"
        )


def test_agg_set_and_single(spark):
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="p", id_fields=["id"]),
            LevelSpec(name="c", id_fields=["id"]),
        ]
    )
    packer = HierarchicalPacker(spec)
    rows = [
        ("P0", "c1", "red"),
        ("P0", "c2", "red"),
        ("P0", "c3", "blue"),
        ("P1", "c4", None),
        ("P1", "c5", "green"),
    ]
    df = spark.createDataFrame(rows, ["p.id", "p.c.id", "p.c.color"])
    packed = packer.pack(df, "c")
    set_expr = F.array_sort(packer.attribute_expr("color", "c", "p", "set"))
    single_expr = packer.attribute_expr("color", "c", "p", "single")
    got = {
        r["p.id"]: (r["s"], r["one"])
        for r in packed.select(
            qcol("p.id"), set_expr.alias("s"), single_expr.alias("one")
        ).collect()
    }
    assert got["P0"] == (["blue", "red"], "red") or got["P0"][0] == ["blue", "red"]
    assert got["P1"][0] == ["green"]
    assert got["P1"][1] == "green"


def test_agg_first_last(spark):
    spec = HierarchySpec(
        levels=[
            LevelSpec(name="p", id_fields=["id"]),
            LevelSpec(name="c", id_fields=["id"], order_by=[qcol("p.c.id")]),
        ]
    )
    packer = HierarchicalPacker(spec)
    rows = [("P0", "c2"), ("P0", "c1"), ("P0", "c3")]
    df = spark.createDataFrame(rows, ["p.id", "p.c.id"])
    packed = packer.pack(df, "c")
    row = packed.select(
        packer.attribute_expr("id", "c", "p", "first").alias("f"),
        packer.attribute_expr("id", "c", "p", "last").alias("l"),
    ).collect()[0]
    assert (row["f"], row["l"]) == ("c1", "c3")


def test_enrich_on_root_collapsed_frame(cross_level_df):
    """Packing to the ROOT level collapses everything into one struct
    column; enrich must resolve child references via struct-field access
    there, not dotted top-level names."""
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "country")
    assert packed.columns == ["country"]
    result = packer.enrich(
        packed,
        LevelAttribute("population", "city", "sum", alias="total_pop"),
        LevelAttribute("id", "city", "count", alias="city_count"),
        at_level="country",
    )
    got = {
        r["country"]["code"]: (r["country.total_pop"], r["country.city_count"])
        for r in result.collect()
    }
    assert got == {"US": (12_000_000, 2), "CA": (3_000_000, 1)}


def test_existentials_on_root_collapsed_frame(cross_level_df):
    packer = HierarchicalPacker(CROSS_SPEC)
    packed = packer.pack(cross_level_df, "country")
    big = packer.any_child_satisfies(
        packed, from_level="city", to_level="country",
        condition=lambda c: c["population"] > 5_000_000,
    )
    assert [r["country"]["code"] for r in big.collect()] == ["US"]
    all_big = packer.all_children_satisfy(
        packed, from_level="city", to_level="country",
        condition=lambda c: c["population"] >= 3_000_000,
    )
    assert sorted(r["country"]["code"] for r in all_big.collect()) == ["CA", "US"]


def test_empty_frame_pack_unpack_schema_fidelity(packer, apartment_level_df):
    """SURVEY §7.3 rake 6: 0-row frames must still produce the exact nested
    schema on pack and the exact flat schema back on unpack (groups only
    exist where rows exist, so the frames stay empty)."""
    empty = apartment_level_df.limit(0)
    packed_ref = packer.pack(apartment_level_df, "street")
    packed_empty = packer.pack(empty, "street")
    assert packed_empty.schema.simpleString() == packed_ref.schema.simpleString()
    assert packed_empty.count() == 0

    unpacked_empty = packer.unpack(packed_empty, "apartment")
    assert (
        unpacked_empty.schema.simpleString()
        == packer.unpack(packed_ref, "apartment").schema.simpleString()
    )
    assert unpacked_empty.count() == 0

    # relational bridge on empty frames keeps per-level schemas too
    tables_ref = packer.normalize(apartment_level_df)
    tables_empty = packer.normalize(empty)
    assert set(tables_empty) == set(tables_ref)
    for name, t in tables_empty.items():
        assert t.schema.simpleString() == tables_ref[name].schema.simpleString()
        assert t.count() == 0


def test_agg_sum_empty_and_all_null_contract(spark):
    """Pin the NULL-vs-0 contract of the agg='sum' head+tail fold
    (crosslevel._agg_sum): SUM over an EMPTY or ALL-NULL child list is
    NULL — ANSI-SQL aggregate semantics, which the DuckDB oracles
    replicate cell-for-cell (list_sum([]) IS NULL, list_sum([NULL,..])
    IS NULL) — and a documented divergence from the reference's Polars
    ``list.sum()``, which returns dtype-zero 0 for an empty list.
    NULL elements inside a non-empty list are skipped, matching both
    engines' aggregate null-skipping (VERDICT r12 item 7)."""
    import duckdb

    from polars_nexpresso_spark.operators.crosslevel import _agg_sum

    df = spark.createDataFrame(
        [(1, []), (2, None), (3, [None, None]), (4, [1, None, 2])],
        schema="id bigint, a array<bigint>",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", _agg_sum(F.col("a")).alias("s")).collect()
    }
    assert got == {1: None, 2: None, 3: None, 4: 3}
    duck = duckdb.sql(
        "SELECT list_sum([]::BIGINT[]), list_sum(NULL::BIGINT[]), "
        "list_sum([NULL, NULL]::BIGINT[]), list_sum([1, NULL, 2]::BIGINT[])"
    ).fetchone()
    assert list(duck) == [None, None, None, 3]


# ---------------------------------------------------------------------------
# Child-list sort kernel and the bounded pack
# ---------------------------------------------------------------------------

_SORT_SPEC = HierarchySpec(
    levels=[
        LevelSpec(name="g", id_fields=["gid"]),
        LevelSpec(name="item", id_fields=["iid"], order_by=["g.item.score"]),
    ]
)


def _sort_edge_frame(spark):
    """Sort keys over nulls, NaN, ±0.0 and duplicates, spread over several
    input partitions so the row-id tie-break is exercised."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    nan = float("nan")
    scores = [None, nan, 0.0, -0.0, 1.5, 1.5, -2.0, None, nan, 0.0, -0.0]
    rows = [
        (g, g * 100 + i, scores[(i * 7 + g) % len(scores)], f"t{(i * 3) % 4}")
        for g in range(3)
        for i in range(12)
    ]
    schema = StructType(
        [
            StructField("g.gid", LongType()),
            StructField("g.item.iid", LongType()),
            StructField("g.item.score", DoubleType()),
            StructField("g.item.tag", StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema).repartition(3)


def test_native_child_sort_matches_comparator(spark, monkeypatch):
    """With preserve_child_order the native sort_array kernel yields the
    comparator kernel's ordered child lists exactly, over nulls, NaN, ±0.0
    and duplicate order_by keys."""
    from polars_nexpresso_spark.operators import packer as packer_mod

    df = _sort_edge_frame(spark).cache()
    packer = HierarchicalPacker(_SORT_SPEC)
    native = packer.pack(df, "item")
    plan = native._jdf.queryExecution().analyzed().toString()
    assert "sort_array" in plan and "lambdafunction" not in plan
    native_rows = canonical_rows(native)

    monkeypatch.setattr(packer_mod, "orderable", lambda *types: False)
    fallback = packer.pack(df, "item")
    assert "lambdafunction" in fallback._jdf.queryExecution().analyzed().toString()
    assert canonical_rows(fallback) == native_rows
    df.unpersist()


def test_map_payload_packs_through_comparator(spark):
    """sort_array cannot order a map payload; the key-only comparator
    fallback still sorts children by order_by."""
    rows = [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 5, "z")]
    df = spark.createDataFrame(rows, ["g.gid", "g.item.iid", "tag"])
    df = df.withColumn("g.item.score", qcol("g.item.iid") * 1.0).withColumn(
        "g.item.attrs", F.create_map(F.lit("tag"), F.col("tag"))
    ).drop("tag")
    packed = HierarchicalPacker(_SORT_SPEC).pack(df, "item")
    assert "lambdafunction" in packed._jdf.queryExecution().analyzed().toString()
    got = {
        r["g.gid"]: [(c["iid"], c["attrs"]["tag"]) for c in r["g.item"]]
        for r in packed.collect()
    }
    assert got == {1: [(1, "a"), (2, "b"), (3, "c")], 2: [(5, "z")]}


@pytest.fixture()
def parquet_writes(monkeypatch):
    """Record the path of every DataFrame parquet write."""
    from pyspark.sql.readwriter import DataFrameWriter

    paths: list[str] = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        paths.append(str(path))
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return paths


def test_bounded_pack_of_empty_input(spark, tmp_path, parquet_writes):
    """An empty input packs to an empty frame with the pack's columns, both
    when staged (a limit selects rows by position) and when re-read per
    bucket (a filter)."""
    df = _sort_edge_frame(spark)
    packer = HierarchicalPacker(_SORT_SPEC)
    want = packer.pack(df, "item").columns
    for name, empty in (("limit", df.limit(0)), ("filter", df.filter(F.lit(False)))):
        base = tmp_path / name
        got = packer.pack_streaming(
            empty, "item", partitions=2, bounded=True, tmp_dir=str(base)
        )
        assert got.columns == want
        assert got.count() == 0
        assert (str(base / "stage") in parquet_writes) == (name == "limit")


def test_bounded_pack_of_cached_source_does_not_stage(spark, tmp_path, parquet_writes):
    df = _sort_edge_frame(spark).cache()
    packer = HierarchicalPacker(_SORT_SPEC)
    got = packer.pack_streaming(
        df, "item", partitions=4, bounded=True, tmp_dir=str(tmp_path)
    )
    assert_same_rows(got, packer.pack(df, "item"))
    assert parquet_writes and not any("stage" in p for p in parquet_writes)
    assert not (tmp_path / "stage").exists()
    df.unpersist()


def test_bounded_pack_of_nondeterministic_source_stages(spark, tmp_path, parquet_writes):
    """A source with F.rand() is evaluated once (staged); every root appears
    exactly once with all of its children, and the staging copy is gone."""
    df = _sort_edge_frame(spark).withColumn("g.item.noise", F.rand())
    packer = HierarchicalPacker(_SORT_SPEC)
    got = packer.pack_streaming(
        df, "item", partitions=4, bounded=True, tmp_dir=str(tmp_path)
    ).collect()
    assert str(tmp_path / "stage") in parquet_writes
    assert not (tmp_path / "stage").exists()
    want: dict[int, list[int]] = {}
    for r in df.select("`g.gid`", "`g.item.iid`").collect():
        want.setdefault(r[0], []).append(r[1])
    assert sorted(r["g.gid"] for r in got) == sorted(want)
    assert {r["g.gid"]: sorted(c["iid"] for c in r["g.item"]) for r in got} == {
        g: sorted(iids) for g, iids in want.items()
    }
