"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), then
serves a closed loop of passes; a pass is a fixed list of requests, each
one public call chain on fresh inputs of the same size, so every pass
does the same work. Output checks run inside a request when they are
cheap and reuse the sink's result, otherwise after the timed window
(``deferred_checks``).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.checks import digest, oracle_matches, recall

IO, EXPR, PACKER, CROSS = "sources.io", "expressions", "operators.packer", "operators.crosslevel"
DEDUP, SIM = "functions.dedup", "functions.similarity"


class Workload:
    """Shared plumbing: inputs dir, check bookkeeping."""

    name = ""
    # Wall seconds of one warm pass on 4 vCPUs; a run times
    # ``--seconds / pass_s`` passes, rounded.
    pass_s = 1.0

    def __init__(
        self, spark, tracer, work: str, seed: int, scale: float, passes: int
    ) -> None:
        self.spark, self.tr, self.work, self.seed, self.scale = spark, tracer, work, seed, scale
        # Passes in the run, the warm-up ones included.
        self.passes = passes
        self.failed: set[str] = set()
        self.notes: list[str] = []
        self.info: list[str] = []
        self._deferred: list = []

    def check(self, request: str, ok: bool, what: str) -> None:
        if not ok:
            self.failed.add(request)
            self.notes.append(f"{request}: {what}")

    def sized(self, full: int) -> int:
        return max(int(full * self.scale), 1)

    def prepare(self) -> None:
        raise NotImplementedError

    def requests(self, p: int) -> list:
        raise NotImplementedError

    def deferred_checks(self) -> None:
        for request, fn in self._deferred:
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — a failed check is a result
                self.check(request, False, f"{type(e).__name__}: {e}"[:300])
        self._deferred = []

    def drop_deferred_checks(self) -> None:
        self._deferred = []

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class PackBulk(Workload):
    """Key-offset x4 replica of orders->lineitem, cached, heap large enough
    that nothing spills: the packer's shuffle/aggregate/sort dominates.
    The bounded pack adds its per-bucket job loop and parquet sink, and the
    sharded write and read-back add the I/O layer's writes."""

    name = "pack_bulk"
    pass_s = 6.0
    # Buckets of the bounded pack; each adds a read/pack/append job round.
    buckets = 2

    def prepare(self) -> None:
        from polars_nexpresso_spark import HierarchicalPacker
        from polars_nexpresso_spark.queries import OL_SPEC
        from polars_nexpresso_spark.sources.io import flat_orders_lineitem

        self.data = self._dir("tpch")
        self.facts = inputs.write_tpch(self.data, self.seed, self.sized(10_000), replicas=4)
        self.packer = HierarchicalPacker(OL_SPEC)
        self.unordered = HierarchicalPacker(OL_SPEC, preserve_child_order=False)
        self.flat = flat_orders_lineitem(self.spark, self.data).cache()
        self.packed = self.packer.pack(self.flat, "orders").cache()
        self.flat_cols = self.flat.columns
        self.flat_digest = digest(self.flat)
        self.packed_digest = digest(self.packed)
        f = self.facts
        self.check("setup", self.flat_digest[0] == f.n_leaf, "flat input rows")
        self.check("setup", self.packed_digest[0] == f.n_orders, "packed rows")

    def requests(self, p: int) -> list:
        out = self._dir("out", f"p{p}")
        return [
            ("pack", self._pack),
            ("pack_unordered", self._pack_unordered),
            ("pack_streaming_bounded", lambda rid: self._bounded(rid, os.path.join(out, "staging"))),
            ("nested_ops", self._nested_ops),
            ("enrich", self._enrich),
            ("any_child", self._any_child),
            ("write_sharded", lambda rid: self._sharded(rid, os.path.join(out, "sharded"))),
            ("read_unpack", lambda rid: self._read_unpack(rid, os.path.join(out, "sharded"))),
        ]

    def _packed_same(self, rid: str, df, name: str) -> None:
        got = self.tr.sink(PACKER, name, df, digest)
        self.check(rid, got == self.packed_digest, f"{name} digest {got} != {self.packed_digest}")

    def _pack(self, rid: str) -> None:
        df = self.tr.call(PACKER, "pack", self.packer.pack, self.flat, "orders")
        self._packed_same(rid, df, "pack")

    def _pack_unordered(self, rid: str) -> None:
        df = self.tr.call(PACKER, "pack", self.unordered.pack, self.flat, "orders")
        self._packed_same(rid, df, "pack_unordered")

    def _nested_ops(self, rid: str) -> None:
        from polars_nexpresso_spark.expressions import apply_nested_operations

        fields = {
            "orders": {
                "o_totalprice": lambda c: c * 2,
                "lineitem": {"l_quantity": lambda q: q + 1},
            }
        }
        df = self.tr.call(
            EXPR, "apply_nested_operations", apply_nested_operations,
            self.packed, fields, struct_mode="with_fields",
        )
        qty = F.aggregate("orders.lineitem", F.lit(0.0), lambda acc, e: acc + e["l_quantity"])
        row = self.tr.sink(EXPR, "apply_nested_operations", df, lambda d: d.agg(F.sum(qty)).collect()[0])
        want = self.facts.quantity_sum + self.facts.n_leaf
        self.check(rid, row[0] == want, f"nested quantity sum {row[0]} != {want}")

    def _enrich(self, rid: str) -> None:
        from polars_nexpresso_spark import LevelAttribute

        df = self.tr.call(
            CROSS, "enrich", self.packer.enrich, self.packed,
            LevelAttribute("l_quantity", "lineitem", "sum", alias="qty_sum"),
            LevelAttribute("l_quantity", "lineitem", "count", alias="n_items"),
            LevelAttribute("l_extendedprice", "lineitem", "max", alias="max_price"),
            at_level="orders",
        )
        sums = (F.sum(F.col("`orders.qty_sum`")), F.sum(F.col("`orders.n_items`")))
        row = self.tr.sink(CROSS, "enrich", df, lambda d: d.agg(*sums).collect()[0])
        f = self.facts
        self.check(rid, (row[0], row[1]) == (f.quantity_sum, f.n_leaf), f"enrich sums {tuple(row)}")

    def _any_child(self, rid: str) -> None:
        df = self.tr.call(
            CROSS, "any_child_satisfies", self.packer.any_child_satisfies, self.packed,
            from_level="lineitem", to_level="orders",
            condition=lambda e: e["l_quantity"] > 45,
        )
        n = self.tr.sink(CROSS, "any_child_satisfies", df, lambda d: d.count())
        self.check(rid, n == self.facts.orders_with_big_qty, f"any_child count {n}")

    def _bounded(self, rid: str, staging: str) -> None:
        df = self.tr.call(
            PACKER, "pack_streaming", self.packer.pack_streaming, self.flat, "orders",
            partitions=self.buckets, bounded=True, tmp_dir=staging,
        )
        self._packed_same(rid, df, "pack_streaming")

    def _sharded(self, rid: str, path: str) -> None:
        from polars_nexpresso_spark.sources.io import write_sharded

        self.tr.sink(
            IO, "write_sharded", self.packed,
            lambda d: write_sharded(d, path, "orders.o_orderkey", n_shards=8),
        )

    def _read_unpack(self, rid: str, path: str) -> None:
        from polars_nexpresso_spark.sources.io import read_any

        df = self.tr.call(IO, "read_any", read_any, self.spark, path, format="parquet")
        flat = self.tr.call(PACKER, "unpack", self.packer.unpack, df.drop("shard"), "lineitem")
        got = self.tr.sink(PACKER, "unpack", flat, lambda d: digest(d, self.flat_cols))
        self.check(rid, got == self.flat_digest, f"read-back digest {got} != {self.flat_digest}")


class CorpusPrep(Workload):
    """Per-request document samples through the dedup operators, and ANN
    query batches against one fixed embeddings corpus."""

    name = "corpus_prep"
    pass_s = 8.0
    batch_queries = 10
    # recall@5 floors, well below the batch recalls measured on this
    # generator at the commit that introduced the benchmark (clustered
    # corpus, n_probe 6 of 16 cells): IVF 1.00 in every batch, IVF-PQ with
    # rerank 0.62-0.86 (mean 0.74).
    ivf_recall_floor = 0.9
    rerank_recall_floor = 0.5

    def prepare(self) -> None:
        from polars_nexpresso_spark.queries import ORACLE_SQL
        from polars_nexpresso_spark.sources.io import read_any, spread

        self.oracle = ORACLE_SQL
        self.n_docs = max(self.sized(100), 30)
        n_vecs = max(self.sized(2000), 200)
        self.vecs, labels = inputs.make_embeddings(self.seed, n_vecs)
        emb_path = inputs.write_embeddings(self._dir("emb"), self.vecs, labels)
        self.emb = spread(read_any(self.spark, emb_path)).cache()
        self.emb.count()
        rng = np.random.default_rng(self.seed + 1)
        self.docs = [
            inputs.write_documents(self._dir("docs", f"p{p}"), int(rng.integers(1 << 31)), self.n_docs)
            for p in range(self.passes)
        ]
        self.queries = rng.choice(n_vecs, size=(self.passes, self.batch_queries))

    def requests(self, p: int) -> list:
        return [
            ("dedup_best_keep", lambda rid: self._dedup(rid, self.docs[p])),
            ("ann_batch", lambda rid: self._ann(rid, self.queries[p])),
        ]

    def _read_docs(self, path: str):
        from polars_nexpresso_spark.sources.io import read_any, spread

        df = self.tr.call(IO, "read_any", read_any, self.spark, path)
        return self.tr.call(IO, "spread", spread, df)

    def _dedup(self, rid: str, path: str) -> None:
        from polars_nexpresso_spark.functions.dedup import (
            dedup_clusters,
            keep_best_in_clusters,
            minhash_lsh_pairs,
        )

        docs = self._read_docs(path)
        pairs = self.tr.call(
            DEDUP, "minhash_lsh_pairs", minhash_lsh_pairs, docs, "text", "doc_id",
            n=3, num_hashes=32, bands=8, threshold=0.8,
        )
        clusters = self.tr.call(DEDUP, "dedup_clusters", dedup_clusters, docs, pairs, "doc_id")
        kept = self.tr.call(
            DEDUP, "keep_best_in_clusters", keep_best_in_clusters,
            docs.withColumn("quality", F.length("text")), clusters, "doc_id", "quality",
        )
        rows = [tuple(r) for r in self.tr.sink(DEDUP, "keep_best_in_clusters", kept, lambda d: d.collect())]

        def run() -> None:
            ok = oracle_matches(self.oracle["dedup_best_keep"], "documents", path, kept.columns, rows)
            self.check(rid, ok, f"dedup_best_keep differs from its DuckDB oracle on {path}")

        self._deferred.append((rid, run))

    def _ann(self, rid: str, ids) -> None:
        from polars_nexpresso_spark.functions.similarity import (
            exact_rerank,
            ivf_ann_topk,
            ivfpq_ann_topk,
        )

        queries = self.emb.filter(F.col("vec_id").isin([int(i) for i in ids]))
        ivf = self.tr.call(
            SIM, "ivf_ann_topk", ivf_ann_topk, self.emb, queries, k=5, n_centroids=16, n_probe=6
        )
        ivf_rows = self.tr.sink(SIM, "ivf_ann_topk", ivf, lambda d: d.collect())
        cand = self.tr.call(
            SIM, "ivfpq_ann_topk", ivfpq_ann_topk, self.emb, queries,
            k=60, n_centroids=16, n_probe=6, m=8, n_codes=16, assign="expr",
        )
        top = self.tr.call(SIM, "exact_rerank", exact_rerank, cand, self.emb, queries, k=5)
        top_rows = self.tr.sink(SIM, "exact_rerank", top, lambda d: d.collect())
        uniq = sorted({int(i) for i in ids})

        def run() -> None:
            truth = inputs.exact_topk(self.vecs, np.array(uniq), 5)
            r_ivf = recall(ivf_rows, truth, uniq, 5)
            r_top = recall(top_rows, truth, uniq, 5)
            self.info.append(f"{rid}: recall@5 ivf {r_ivf:.2f}, ivfpq+rerank {r_top:.2f}")
            self.check(rid, r_ivf >= self.ivf_recall_floor, f"ivf recall@5 {r_ivf:.3f}")
            self.check(rid, r_top >= self.rerank_recall_floor, f"rerank recall@5 {r_top:.3f}")

        self._deferred.append((rid, run))


WORKLOADS = {w.name: w for w in (PackBulk, CorpusPrep)}
