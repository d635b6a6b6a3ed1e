"""Shared fixtures: one SparkSession per test session + canonical-row compare.

Canonical comparison technique mirrors the reference test suite
(``tests/test_hierarchical_packer.py:70-81``): materialize → sort columns →
sort rows → JSON-dump each row with sorted keys → compare as sorted string
lists. Top-level row order is never asserted (pack does not guarantee it);
child-list order IS verified because JSON preserves list order.
"""

from __future__ import annotations

import datetime
import itertools
import json
import math

import pytest
from pyspark.sql import DataFrame, Row

from polars_nexpresso_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="pns-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield session


def _jsonable(value):
    if isinstance(value, Row):
        return {k: _jsonable(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value, 9)
    if isinstance(value, bytes):
        return value.hex()
    return value


def canonical_rows(df: DataFrame) -> list[str]:
    cols = sorted(df.columns)
    rows = df.collect()
    dicts = [{c: _jsonable(r[c]) for c in cols} for r in rows]
    return sorted(json.dumps(d, sort_keys=True) for d in dicts)


def assert_same_rows(left: DataFrame, right: DataFrame) -> None:
    assert canonical_rows(left) == canonical_rows(right)


@pytest.fixture
def parquet_copy(tmp_path):
    """``copy(df)``: a parquet-backed copy of ``df``. Its scan carries
    Catalyst size statistics, which a ``createDataFrame`` frame lacks."""
    n = itertools.count()

    def copy(df: DataFrame) -> DataFrame:
        path = str(tmp_path / f"copy{next(n)}.parquet")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    return copy


@pytest.fixture
def force_arrow_assign(monkeypatch):
    """``force()``: move every known corpus size onto the Arrow side of
    the similarity module's assignment gate (unknown sizes stay SQL)."""

    def force() -> None:
        from polars_nexpresso_spark.functions import similarity

        monkeypatch.setattr(similarity, "_ARROW_ASSIGN_MIN_BYTES", 0)

    return force
