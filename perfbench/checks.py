"""Output checks: order-independent digests of Spark results and the
registry oracles replayed on DuckDB over a request's own parquet dir."""

from __future__ import annotations

import os
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

# Row hashes are folded into this modulus before summing, so a digest of
# any realistic row count stays far below the long range (no ANSI overflow).
_MOD = 2_147_483_647


def _canonical(col: Column, dtype: DataType) -> Column:
    """``col`` with every nested array sorted, so a digest ignores child
    order (an unordered pack and an ordered one hash alike)."""
    if isinstance(dtype, StructType):
        return F.struct(
            *[_canonical(col.getField(f.name), f.dataType).alias(f.name) for f in dtype.fields]
        )
    if isinstance(dtype, ArrayType):
        elem = dtype.elementType
        return F.array_sort(F.transform(col, lambda e: _canonical(e, elem)))
    return col


def digest(df: DataFrame, columns: list[str] | None = None) -> tuple[int, int]:
    """``(rows, digest)`` of ``df``: a sum of per-row hashes over
    ``columns`` (default: all, by name), independent of row order and of
    the order of elements inside nested arrays."""
    names = sorted(columns if columns is not None else df.columns)
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = [_canonical(F.col(f"`{n}`"), types[n]) for n in names]
    h = F.pmod(F.xxhash64(*cols), F.lit(_MOD))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


def _check_oracle_module():
    """``scripts/check_oracle.py``'s canonicalizer, imported unchanged."""
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracle

    return check_oracle


def oracle_matches(sql: str, table: str, parquet: str, cols: list[str], rows: list) -> bool:
    """Replay a registry ``ORACLE_SQL`` on DuckDB with ``table`` bound to
    ``parquet`` and compare it with Spark's rows the way the correctness
    gate does: same columns, same count, same canonical values."""
    import duckdb

    co = _check_oracle_module()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{parquet}')")
        cur = con.execute(sql)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        con.close()
    if sorted(d_cols) != sorted(cols) or len(d_rows) != len(rows):
        return False
    return co.canonical(rows, cols) == co.canonical(d_rows, d_cols)


def recall(found: list, truth: list[set[int]], query_ids, k: int) -> float:
    """Mean recall@k of ``found`` ``(query_id, neighbor_id, ..., rank)``
    rows against the exact neighbour sets."""
    by_query: dict[int, set[int]] = {int(q): set() for q in query_ids}
    for r in found:
        if r["rank"] <= k:
            by_query[int(r["query_id"])].add(int(r["neighbor_id"]))
    hits = sum(len(by_query[int(q)] & t) for q, t in zip(query_ids, truth))
    return hits / (k * len(truth))
