"""One cosine score: zero, null and string-id inputs through every exact
scorer, and a source scan that keeps the score in one helper."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from polars_nexpresso_spark.functions import dedup, similarity as sim

FUNCTIONS = Path(__file__).resolve().parent.parent / "polars_nexpresso_spark" / "functions"


@pytest.fixture(scope="module")
def zero_frame(spark):
    """40 2-d vectors; id 0 is the zero vector."""
    import math

    rows = [(0, [0.0, 0.0])] + [
        (i, [math.cos(i / 7.0), math.sin(i / 7.0)]) for i in range(1, 40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _zero_cases(df):
    queries = df.filter("vec_id < 3")
    positives = df.sparkSession.createDataFrame(
        [(1, 2)], "query_id long, doc_id long"
    )
    candidates = df.sparkSession.createDataFrame(
        [(q, n) for q in (0, 1) for n in (0, 5, 9)],
        "query_id long, neighbor_id long",
    )
    return {
        "cosine_topk": lambda: sim.cosine_topk(df, queries, k=5),
        "ivf_ann_topk": lambda: sim.ivf_ann_topk(
            df, queries, k=5, n_centroids=4, n_probe=4
        ),
        "lsh_ann_topk": lambda: sim.lsh_ann_topk(
            df, queries, k=5, num_planes=4, multiprobe=4, dim=2
        ),
        "exact_rerank": lambda: sim.exact_rerank(candidates, df, queries, k=5),
        "semantic_dedup": lambda: sim.semantic_dedup(
            df, n_centroids=2, threshold=0.99
        ),
        "mine_hard_negatives": lambda: sim.mine_hard_negatives(
            df, queries, positives, k=5
        ),
        "embedding_cosine_pairs": lambda: dedup.embedding_cosine_pairs(
            df, "embedding", "vec_id", threshold=-1.0
        ),
        "cosine_topk_int8": lambda: sim.cosine_topk_int8(df, queries, k=5),
    }


@pytest.mark.parametrize(
    "op",
    [
        "cosine_topk",
        "ivf_ann_topk",
        "lsh_ann_topk",
        "exact_rerank",
        "semantic_dedup",
        "mine_hard_negatives",
        "embedding_cosine_pairs",
        "cosine_topk_int8",
    ],
)
def test_zero_vector_scores_zero(zero_frame, op):
    """A zero vector has cosine 0 with everything; under ANSI mode the
    unclamped division raised DIVIDE_BY_ZERO instead."""
    try:
        rows = _zero_cases(zero_frame)[op]().collect()
    finally:
        dedup.release_blocking_caches()
    assert rows
    if op == "semantic_dedup":
        assert {r["vec_id"] for r in rows} == set(range(40))
        assert [r["keep"] for r in rows if r["vec_id"] == 0] == [True]
        return
    id_cols = ("id_a", "id_b") if op == "embedding_cosine_pairs" else (
        "query_id", "neighbor_id"
    )
    score = "cosine_q" if op == "cosine_topk_int8" else "cosine"
    zero_rows = [r for r in rows if 0 in (r[id_cols[0]], r[id_cols[1]])]
    assert zero_rows
    assert {r[score] for r in zero_rows} == {0.0}


def test_cosine_topk_int8_zero_vector_matches_oracle(zero_frame, tmp_path):
    """The registry's DuckDB oracle clamps the zero norm product the same
    way, so the int8 scores stay hash-exact with a zero vector present."""
    import duckdb

    from polars_nexpresso_spark.pipeline_queries import PIPELINE_ORACLE_SQL

    path = str(tmp_path / "embeddings.parquet")
    zero_frame.toPandas().to_parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(PIPELINE_ORACLE_SQL["cosine_topk_int8"]).fetchall())
    got = sim.cosine_topk_int8(zero_frame, zero_frame.filter("vec_id < 10"), k=5)
    got = sorted(tuple(r) for r in got.select(
        "query_id", "neighbor_id", "cosine_q", "rank").collect())
    assert [r for r in want if 0 in r[:2]]
    assert got == want


def test_cosine_topk_skips_null_vectors(spark):
    """A null-vector row is neither a neighbor nor a query; it used to rank
    first with cosine NULL for every query."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0]), (4, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    rows = sorted(tuple(r) for r in sim.cosine_topk(df, df, k=5).collect())
    assert rows == [
        (1, 3, 1.0, 1), (1, 4, 0.6, 2),
        (3, 1, 1.0, 1), (3, 4, 0.6, 2),
        (4, 1, 0.6, 1), (4, 3, 0.6, 2),
    ]


def test_cosine_topk_keeps_string_ids(spark):
    """String ids come back as strings and tie-break in string order:
    '10' ranks before '9' on an exact tie."""
    df = spark.createDataFrame(
        [("1", [1.0, 0.0]), ("9", [0.6, 0.8]), ("10", [0.6, 0.8]),
         ("4", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = sim.cosine_topk(df, df.filter("vec_id = '1'"), k=3)
    assert dict(out.dtypes)["query_id"] == "string"
    assert dict(out.dtypes)["neighbor_id"] == "string"
    assert [tuple(r) for r in out.orderBy("rank").collect()] == [
        ("1", "10", 0.6, 1), ("1", "9", 0.6, 2), ("1", "4", 0.0, 3),
    ]


def _calls(path: Path):
    """``(enclosing function, callee name, call node)`` for every call in
    ``path``."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                yield fn, name, child
            yield from walk(child, fn)

    yield from walk(ast.parse(path.read_text()), None)


def test_one_sql_cosine_score():
    """Every SQL cosine score goes through ``similarity._cosine``: nothing
    else calls ``_dot``, and dedup.py folds no ``zip_with`` product of its
    own."""
    found = [
        f"similarity.py:{c.lineno} in {fn}"
        for fn, name, c in _calls(FUNCTIONS / "similarity.py")
        if name == "_dot" and fn != "_cosine"
    ]
    for fn, name, c in _calls(FUNCTIONS / "dedup.py"):
        first = c.args[0] if c.args else None
        if name == "aggregate" and isinstance(first, ast.Call) and getattr(
            first.func, "attr", getattr(first.func, "id", None)
        ) == "zip_with":
            found.append(f"dedup.py:{c.lineno} in {fn}")
    assert not found, "\n".join(found)
