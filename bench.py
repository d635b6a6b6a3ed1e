"""Benchmark harness — runs the headline operators at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Query set mirrors BASELINE.md's benchmarked operations (pack,
pack_no_child_order, pack_streaming, pack_split_join, unpack, roundtrip) on
the orders → lineitem hierarchy (~600k leaf rows at sf0.1), plus the
cross-level operators and the LLM-pipeline extension catalog. Results are
forced with the ``noop`` datasource sink so the full plan (including list
collection) executes without driver materialization skew.

Protocol: each query group runs in ONE fresh python+JVM child, so a
query's number does not depend on what ran before it in a shared session.
Inside the child every query gets 1 warm-up run, then the median of 3
timed runs. Per-query {median, min, max, runs} land in
BENCH_DETAILS.json "query_stats".

Environment: SPARK_GRAFT_SF_DIR (scale dir), SPARK_GRAFT_CPUS (local[N]),
SPARK_GRAFT_GROUPS (comma-separated subset of GROUPS; a subset run skips
the RSS probes and leaves BENCH_DETAILS.json alone), SPARK_GRAFT_SEAL_EXTRAS=1
(also run the ANN dial grid and the scale probes) and
SPARK_GRAFT_BENCH_DEADLINE (seconds after which the optional post-group
stages are skipped, default 3000).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from polars_nexpresso_spark import HierarchicalPacker  # noqa: E402
from polars_nexpresso_spark.queries import OL_SPEC  # noqa: E402
from polars_nexpresso_spark.session import get_spark  # noqa: E402
from polars_nexpresso_spark.sources.io import (  # noqa: E402
    flat_orders_lineitem,
    read_table,
    spread,
)

WARMUP = 1  # untimed runs per query before the timed ones
REPEAT = 3  # timed runs per query; the headline takes their median
GROUP_TIMEOUT_SEC = 2400  # one group child
HEAP_CAP = "800m"  # driver heap of the capped RSS probes
# Deliberately slower memory modes: benched for their ratio rows but left
# out of the headline total.
SLOW_MODES = frozenset({"pack_streaming_bounded", "pack_heap_capped"})


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _find_jvm_pid() -> int | None:
    """The Spark JVM is our direct child; find it via /proc (no psutil)."""
    me = str(os.getpid())
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().split()
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if parts[3] == me and comm == "java":
                return int(p)
        except OSError:
            continue
    return None


def _reset_peak_rss(pid: int) -> None:
    """Reset the kernel's peak-RSS watermark (VmHWM) — root-only."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _peak_rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return None


# ---------------------------------------------------------------------------
# Fresh-process RSS probes (reference methodology: peak RSS in a fresh
# process per op — a shared warm JVM's watermark retains cached input and
# earlier allocations, hiding per-op memory bounding).
# ---------------------------------------------------------------------------


def _rss_probe(op: str, sf_dir: str) -> None:
    """Child mode: run ONE op in this fresh process and print the JVM's
    peak RSS. Mirrors the reference's methodology ("peak resident set size
    ... in a fresh process", benchmarks/README.md).

    The ``pack_heap_capped`` op is the pinned memory-bounding argument: the
    SAME one-shot pack under an 800 MB heap completes by SPILLING (Spark's
    hash aggregation is spill-aware), demonstrating that on Spark peak
    memory is a configuration bound, not a function of data size — the
    property the reference buys with its 5.8×-slower bucket loop. A GC'd
    runtime's RSS watermark otherwise tracks allocation churn, not working
    set, which is why the uncapped pack and the bounded bucket loop measure
    alike in a fresh process."""
    extra = {}
    if op.startswith("pack_heap_capped"):
        # The capped CONFIGURATION bounds every JVM memory region, not just
        # the Java heap — direct buffers (netty/shuffle), metaspace, code
        # cache, and thread stacks are all part of "peak memory is a
        # configuration bound". Measured at sf0.1: heap-only cap floors at
        # ~1060 MB RSS; with the non-heap regions bounded too, ~980 MB.
        extra = {
            "spark.driver.memory": HEAP_CAP,
            "spark.driver.extraJavaOptions": (
                "-XX:MaxDirectMemorySize=192m -XX:ReservedCodeCacheSize=96m "
                "-XX:MaxMetaspaceSize=192m -Xss512k"
            ),
        }
    # 4x-data probes scale shuffle partitions 4x (the guidance every scale
    # note in this repo gives: size partitions so per-reducer state stays
    # constant as data grows). With the cpu-count default, each of the 32
    # reducers carries 4x the aggregation state and the capped heap OOMs
    # intermittently; at 4x partitions the same 800 MB cap absorbs the 4x
    # corpus reliably (measured: 1425-1445 MB peak, ~7 s).
    shuffle_parts = None
    if op.endswith("_4x"):
        shuffle_parts = 4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name=f"pns-rss-{op}",
        shuffle_partitions=shuffle_parts,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    packer = HierarchicalPacker(OL_SPEC)
    flat = flat_orders_lineitem(spark, sf_dir)  # NOT cached: scan per job
    if op.endswith("_4x"):
        # Key-offset 4x replication (same construction as the scale probe):
        # disjoint key spaces, unchanged list sizes — a clean "same
        # workload, 4x the rows" input for the flat-RSS-under-cap claim.
        parts = [flat]
        for i in range(1, 4):
            parts.append(
                flat.withColumn(
                    "orders.o_orderkey",
                    F.col("`orders.o_orderkey`") + F.lit(i * 1_000_000_000),
                )
            )
        flat = parts[0]
        for p in parts[1:]:
            flat = flat.unionByName(p)
    start = time.perf_counter()
    if op in ("pack", "pack_heap_capped", "pack_4x", "pack_heap_capped_4x"):
        force(packer.pack(flat, "orders"))
    elif op == "pack_streaming_bounded":
        force(
            packer.pack_streaming(flat, "orders", partitions=16, bounded=True)
        )
    else:
        raise SystemExit(f"unknown rss probe op: {op}")
    elapsed = round(time.perf_counter() - start, 3)
    pid = _find_jvm_pid()
    peak = _peak_rss_mb(pid) if pid is not None else None
    print(json.dumps({"op": op, "peak_rss_mb": peak, "sec": elapsed}))


def _isolated_rss(sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Spawn one fresh python+JVM per op; return (peak RSS, wall time)."""
    rss: dict[str, float] = {}
    secs: dict[str, float] = {}
    for op in (
        "pack",
        "pack_streaming_bounded",
        "pack_heap_capped",
        "pack_4x",
        "pack_heap_capped_4x",
    ):
        # One retry: the capped probes run at the edge of their configured
        # bound by design, and transient host contention can tip a run
        # over — a missing record must not silently drop the ratio row.
        for _attempt in range(2):
            proc = subprocess.run(
                [sys.executable, __file__, "--rss-probe", op],
                capture_output=True,
                text=True,
                timeout=600,
                env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
            )
            for line in reversed(proc.stdout.strip().splitlines()):
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("peak_rss_mb") is not None:
                    rss[rec["op"]] = rec["peak_rss_mb"]
                if rec.get("sec") is not None:
                    secs[rec["op"]] = rec["sec"]
                break
            if op in rss:
                break
    return rss, secs


# ---------------------------------------------------------------------------
# Bench groups. Each group runs in ONE fresh JVM. Groups are subsystem-
# shaped so cached inputs amortize within a group without leaking warmth
# across subsystems.
# ---------------------------------------------------------------------------


def _make_bench(spark, timings, peaks, errors, runs_out):
    """Build the per-query measurement closure: WARMUP runs, then the
    median of REPEAT timed runs, with a per-query JVM peak-RSS watermark
    reset. The timed runs land in ``runs_out``."""
    jvm_pid = _find_jvm_pid()

    def bench(name: str, fn) -> None:
        # Per-query failure isolation: one broken query must not zero the
        # whole round's bench evidence — record the error and keep going.
        try:
            for _ in range(WARMUP):
                fn()
            if jvm_pid is not None:
                # Release retained heap first so the per-query watermark
                # measures this query, not leftover earlier allocations.
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:  # noqa: BLE001
                    pass
                _reset_peak_rss(jvm_pid)
            runs = []
            for _ in range(REPEAT):
                start = time.perf_counter()
                fn()
                runs.append(time.perf_counter() - start)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            return
        runs_out[name] = [round(r, 4) for r in runs]
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        if jvm_pid is not None:
            peak = _peak_rss_mb(jvm_pid)
            if peak is not None:
                peaks[name] = peak

    bench.errors = errors  # group runners record non-query failures here
    bench.timings = timings  # io_write derives rows/s from its medians
    return bench


def _group_pack(spark, sf_dir: str, bench) -> None:
    """BASELINE.md parity ops: the pack/unpack strategy matrix."""
    packer = HierarchicalPacker(OL_SPEC)
    packer_unordered = HierarchicalPacker(OL_SPEC, preserve_child_order=False)

    flat = flat_orders_lineitem(spark, sf_dir)
    flat.cache()
    flat.count()  # materialize input once so joins don't dominate pack timings

    bench("pack", lambda: force(packer.pack(flat, "orders")))
    bench(
        "pack_no_child_order",
        lambda: force(packer_unordered.pack(flat, "orders")),
    )
    bench(
        "pack_streaming",
        lambda: force(packer.pack_streaming(flat, "orders", partitions=64)),
    )
    # The reference's literal RSS shape: K sequential per-bucket jobs with a
    # parquet append sink (peak state = one bucket). 16 buckets matches the
    # reference's 16-partition sweep row (5.8x time / 0.50x RSS).
    bounded_tmp = os.path.join(tempfile.gettempdir(), "pns_bench_bounded")
    bench(
        "pack_streaming_bounded",
        lambda: force(
            packer.pack_streaming(
                flat, "orders", partitions=16, bounded=True, tmp_dir=bounded_tmp
            )
        ),
    )
    bench(
        "pack_split_join",
        lambda: force(packer.pack(flat, "orders", parent_strategy="split_join")),
    )

    # Parent-dominant scenario (BASELINE.md "parent-dominant"): a heavy
    # group-uniform root payload (256 doubles per order, replicated on every
    # lineitem row of the flat frame). split_join factors it into a dim table
    # before the shuffle instead of dragging |children| copies through it.
    heavy = flat.withColumn(
        "orders.o_payload", F.array_repeat(F.col("`orders.o_totalprice`"), 256)
    )
    heavy.cache()
    heavy.count()
    # Default call: parent_strategy="auto" routes this shape (complex
    # array root attr) to split_join — what a user gets out of the box.
    bench("pack_parent_heavy", lambda: force(packer.pack(heavy, "orders")))
    # The plain aggregate path, pinned explicitly so the strategy gap
    # stays measured now that the default no longer takes it here.
    bench(
        "pack_parent_heavy_aggregate",
        lambda: force(
            packer.pack(heavy, "orders", parent_strategy="aggregate")
        ),
    )
    bench(
        "pack_split_join_parent_heavy",
        lambda: force(packer.pack(heavy, "orders", parent_strategy="split_join")),
    )
    heavy.unpersist()

    # Parent-DOMINANT scenario (the reference's headline split_join win,
    # benchmarks/README.md:153-156: 0.11x time / 0.50x mem — tiny children,
    # dominant root payload). supplier → lineitem gives ~600 children per
    # parent at sf0.1; each leaf row drags a 256-double parent payload
    # (~2 KB) next to a ~30-byte child. split_join's structural branch
    # prunes the payload column before the leaf shuffle entirely and dedups
    # it map-side on the dim branch — the plain path carries it into the
    # group-agg per leaf row.
    sl_packer = HierarchicalPacker(_supplier_lineitem_spec())
    li = read_table(spark, sf_dir, "lineitem")
    parent_dom = _parent_dominant_frame(li)
    parent_dom.cache()
    parent_dom.count()
    bench(
        "pack_parent_dominant",
        # Explicit aggregate: the default is "auto", which routes this
        # shape (array payload) to split_join — this entry pins the
        # PLAIN-pack denominator the baseline ratio compares against.
        lambda: force(
            sl_packer.pack(
                parent_dom, "lineitem", parent_strategy="aggregate"
            )
        ),
    )
    bench(
        "pack_split_join_parent_dominant",
        lambda: force(
            sl_packer.pack(parent_dom, "lineitem", parent_strategy="split_join")
        ),
    )
    parent_dom.unpersist()

    packed_path = os.path.join(tempfile.gettempdir(), "pns_bench_packed.parquet")
    try:
        packer.pack(flat, "orders").write.mode("overwrite").parquet(packed_path)
        packed = spark.read.parquet(packed_path)
        bench("unpack", lambda: force(packer.unpack(packed, "lineitem")))
    except Exception as e:  # noqa: BLE001 — a failed sink must not void
        bench.errors["unpack"] = f"{type(e).__name__}: {e}"[:500]  # the group
    bench(
        "roundtrip",
        lambda: force(packer.unpack(packer.pack(flat, "orders"), "lineitem")),
    )

    # Deep hierarchy: nation → customer → orders → lineitem built from the
    # raw tables and packed to root — three FK equi-joins plus THREE
    # chained pack shuffles on progressively coarser keys, the N-level
    # shape the scale notes describe. Unordered (no row-id) so the timing
    # isolates the join+agg chain.
    deep_packer = HierarchicalPacker(
        _nation_chain_spec(), preserve_child_order=False
    )
    deep_tables = {
        name: read_table(spark, sf_dir, name)
        for name in ("nation", "customer", "orders", "lineitem")
    }
    bench(
        "pack_deep_4level",
        lambda: force(
            deep_packer.build_from_tables(deep_tables, join_type="inner")
        ),
    )
    flat.unpersist()


_group_pack.names = (
    "pack", "pack_no_child_order", "pack_streaming", "pack_streaming_bounded",
    "pack_split_join", "pack_parent_heavy", "pack_parent_heavy_aggregate",
    "pack_split_join_parent_heavy", "pack_parent_dominant",
    "pack_split_join_parent_dominant", "unpack", "roundtrip",
    "pack_deep_4level",
)


def _supplier_lineitem_spec():
    from polars_nexpresso_spark import HierarchySpec, LevelSpec

    return HierarchySpec.from_levels(
        LevelSpec(name="supplier", id_fields=["s_suppkey"]),
        LevelSpec(name="lineitem", id_fields=["l_orderkey", "l_linenumber"]),
    )


def _nation_chain_spec():
    from polars_nexpresso_spark import HierarchySpec, LevelSpec

    return HierarchySpec.from_levels(
        LevelSpec(name="nation", id_fields=["n_nationkey"]),
        LevelSpec(
            name="customer",
            id_fields=["c_custkey"],
            parent_keys=["c_nationkey"],
        ),
        LevelSpec(
            name="orders", id_fields=["o_orderkey"], parent_keys=["o_custkey"]
        ),
        LevelSpec(
            name="lineitem",
            id_fields=["l_orderkey", "l_linenumber"],
            parent_keys=["l_orderkey"],
        ),
    )


def _parent_dominant_frame(li, key_offset: int = 0, order_offset: int = 0):
    return li.select(
        (li["l_suppkey"] + F.lit(key_offset)).alias("supplier.s_suppkey"),
        F.array_repeat(
            (li["l_suppkey"] + F.lit(key_offset)).cast("double"), 256
        ).alias("supplier.s_payload"),
        (li["l_orderkey"] + F.lit(order_offset)).alias(
            "supplier.lineitem.l_orderkey"
        ),
        li["l_linenumber"].alias("supplier.lineitem.l_linenumber"),
        li["l_quantity"].alias("supplier.lineitem.l_quantity"),
    )


def _bpe_pipeline(spark, sf_dir: str) -> None:
    from polars_nexpresso_spark.functions.bpe import bpe_encode, train_bpe

    docs = spread(read_table(spark, sf_dir, "documents"))
    merges = train_bpe(docs, "text", num_merges=64, min_count=2)
    force(bpe_encode(docs, "text", merges))


def _unigram_pipeline(spark, sf_dir: str) -> None:
    from polars_nexpresso_spark.functions.unigram import (
        train_unigram,
        unigram_encode,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    vocab = train_unigram(docs, "text", vocab_size=256, min_count=2)
    force(unigram_encode(docs, "text", vocab))


def _tokenizer_train_envelope(spark, sf_dir: str) -> None:
    """Driver-loop envelope probe at a FIXED synthetic word-table size
    (50k pseudo-words, 3-12 hex chars), independent of the sf corpus's
    organic vocabulary (61 words at sf0.1 — too small to exercise the
    loops): regressions in the BPE merge heap or the unigram EM/shrink
    schedule show up here round over round. Measured cap-scale numbers
    live in docs/tokenizer_envelope.md."""
    from polars_nexpresso_spark.functions.bpe import train_bpe
    from polars_nexpresso_spark.functions.unigram import train_unigram

    words = spark.range(50_000).select(
        F.substring(
            F.md5(F.col("id").cast("string")),
            1,
            (3 + F.col("id") % 10).cast("int"),
        ).alias("text")
    ).localCheckpoint(eager=True)
    force(train_bpe(words, "text", num_merges=500, min_count=1))
    force(train_unigram(words, "text", vocab_size=1024, min_count=1))


def _registry_group(names: tuple[str, ...]):
    """A group runner over the oracle-paired query registry."""

    def run(spark, sf_dir: str, bench) -> None:
        from polars_nexpresso_spark.queries import QUERIES

        for name in names:
            if name == "bpe_pipeline":
                bench(name, lambda: _bpe_pipeline(spark, sf_dir))
            elif name == "unigram_pipeline":
                bench(name, lambda: _unigram_pipeline(spark, sf_dir))
            elif name == "tokenizer_train_envelope":
                bench(
                    name, lambda: _tokenizer_train_envelope(spark, sf_dir)
                )
            else:
                q = QUERIES[name]
                bench(name, lambda q=q: force(q(spark, sf_dir)))

    run.names = names
    return run


def _group_io_write(spark, sf_dir: str, bench) -> dict:
    """Write-path operators (VERDICT r09 item 5): the four materializing
    writers get the same per-round timing visibility queries have, plus
    a write-shaped extras row — rows/s, files written, and for the
    z-order layout the both-column file-span locality the reader
    actually buys (mean per-file min/max span as a fraction of the
    column's range; lower = better skipping). All four write REAL
    parquet to a scratch dir (overwrite mode, so warmup+median reuse
    the path) — lineitem (600k rows at sf0.1) for the row-heavy
    writers, the documents curriculum plan for write_curriculum."""
    import shutil
    import tempfile

    from polars_nexpresso_spark.functions.sampling import curriculum_shards
    from polars_nexpresso_spark.sources.io import (
        write_curriculum,
        write_ordered,
        write_sharded,
        write_zordered,
    )

    li = read_table(spark, sf_dir, "lineitem")
    docs = read_table(spark, sf_dir, "documents")
    n_li = li.count()
    n_docs = docs.count()
    root = tempfile.mkdtemp(prefix="pns_bench_io_")
    paths = {
        name: f"{root}/{name}"
        for name in (
            "write_sharded", "write_ordered", "write_zordered",
            "write_curriculum",
        )
    }
    plan = curriculum_shards(
        docs, "n_chars", "doc_id", n_stages=3, n_shards=4
    )
    try:
        bench(
            "write_sharded",
            lambda: write_sharded(
                li, paths["write_sharded"], "l_orderkey", n_shards=16
            ),
        )
        bench(
            "write_ordered",
            lambda: write_ordered(
                li, paths["write_ordered"], "l_extendedprice",
                tiebreak_col="l_orderkey", n_files=16,
            ),
        )
        bench(
            "write_zordered",
            lambda: write_zordered(
                li, paths["write_zordered"],
                ["l_orderkey", "l_partkey"], bits=8, n_files=16,
            ),
        )
        bench(
            "write_curriculum",
            lambda: write_curriculum(plan, paths["write_curriculum"]),
        )

        def _n_files(path: str) -> int:
            return sum(
                1 for p in Path(path).rglob("*.parquet")
                if not p.name.startswith("_")
            )

        def _span_frac(path: str, col: str) -> float | None:
            """Mean per-file (max-min) span of ``col`` as a fraction of
            the column's global range — the min/max-skipping quality a
            reader filtering on ``col`` gets from this layout."""
            from pyspark.sql import functions as F

            df = spark.read.parquet(path).withColumn(
                "__f", F.input_file_name()
            )
            spans = df.groupBy("__f").agg(
                (F.max(col) - F.min(col)).alias("span")
            )
            glob_row = df.agg(
                (F.max(col) - F.min(col)).alias("r")
            ).collect()[0]
            if not glob_row["r"]:
                return None
            mean_span = spans.agg(F.avg("span")).collect()[0][0]
            return round(float(mean_span) / float(glob_row["r"]), 4)

        extras: dict[str, dict] = {}
        rows_by_op = {
            "write_sharded": n_li,
            "write_ordered": n_li,
            "write_zordered": n_li,
            "write_curriculum": n_docs,
        }
        for name, n_rows in rows_by_op.items():
            t = bench.timings.get(name)
            rec: dict = {"rows": int(n_rows)}
            if t:
                rec["rows_per_sec"] = int(n_rows / t)
            try:
                rec["files"] = _n_files(paths[name])
            except Exception:  # noqa: BLE001 — timing already recorded
                pass
            extras[name] = rec
        try:
            # A writer that failed left no dir to read spans from.
            if Path(paths["write_zordered"]).exists():
                extras["write_zordered"]["span_frac"] = {
                    "l_orderkey": _span_frac(
                        paths["write_zordered"], "l_orderkey"
                    ),
                    "l_partkey": _span_frac(
                        paths["write_zordered"], "l_partkey"
                    ),
                }
            # the single-column-sorted layout has NO second-column
            # locality: the z-order span on BOTH columns is the win
            if Path(paths["write_ordered"]).exists():
                extras["write_ordered"]["span_frac"] = {
                    "l_extendedprice": _span_frac(
                        paths["write_ordered"], "l_extendedprice"
                    ),
                }
        except Exception as e:  # noqa: BLE001
            bench.errors["io_write_span"] = f"{type(e).__name__}: {e}"[:200]
        return extras
    finally:
        shutil.rmtree(root, ignore_errors=True)


_group_io_write.names = (
    "write_sharded", "write_ordered", "write_zordered", "write_curriculum",
)


# Group membership is subsystem-shaped; every name except the pack-family
# specials and bpe_pipeline is a registry (oracle-paired) query.
GROUPS: dict[str, object] = {
    "pack": _group_pack,
    "crosslevel": _registry_group((
        "promote_sum", "enrich_stats", "multihop_count", "any_child",
        "windowed_pack", "session_pack", "top_events_salted",
        "asof_attribution", "asof_attribution_sharded", "interval_views",
        "fuzzy_name_pairs",
    )),
    "dedup_core": _registry_group((
        "exact_dedup", "robust_dedup", "robust_dedup_unicode",
        "minhash_lsh", "dedup_clusters", "ngram_jaccard",
        "simhash_pairs", "embedding_dedup", "dup_window_frac",
        "intradoc_dedup", "source_overlap", "dedup_best_keep", "chunk_dedup",
        "soft_dedup_weights", "dedup_pair_recall", "containment_pairs",
        "containment_keepset",
    )),
    "dedup_corpus": _registry_group((
        "decontaminate_stream", "contamination_report", "boilerplate_tokens",
        "fixed_boilerplate", "exact_substring_dedup", "ref_dedup",
        "ref_dedup_stream", "ref_dedup_robust", "leakage_free_split",
        "semantic_dedup",
        "image_near_dup", "audio_near_dup", "dedup_index", "bloom_dedup",
        "decontaminate_bloom", "decontaminate_fraction",
        "dedup_index_stream",
    )),
    "text_quality": _registry_group((
        "text_stats", "token_fingerprint", "language_id", "vocab_topk",
        "quality_percentiles", "quality_filter", "quality_buckets",
        "lm_score", "lm_score_stream", "nb_quality", "nb_quality_stream",
        "novelty_frac", "pmi_bigrams", "oov_rate", "lexical_diversity",
        "oov_annotate", "quality_calibrate", "char_entropy",
        "encoding_quality",
    )),
    "text_transform": _registry_group((
        "chunk_documents", "bm25_topk", "bm25_index", "bm25_route",
        "cross_rerank", "tfidf_keywords",
        "redact_pii", "corpus_report", "corpus_diff", "unicode_nfc",
        "strip_markup", "truncate_tokens", "token_shift", "bpe_pipeline",
        "unigram_pipeline", "tokenizer_train_envelope",
    )),
    "embeddings": _registry_group((
        "cosine_topk", "cosine_topk_int8",
        "lsh_ann_topk", "ivf_ann_topk", "label_centroids",
        "project_embeddings", "multimodal_video", "embedding_outliers",
        "knn_label", "knn_label_ann", "diversity_sample",
        "embedding_drift", "cluster_purity", "mmr_per_query",
        "mmr_diversity_eval",
    )),
    "ann_cascade": _registry_group((
        "pq_ann_topk", "ivfpq_ann_topk", "ivfpq_rerank", "hard_negatives",
        "hard_negatives_ann", "hard_negatives_ivfpq", "ann_recall",
        "mmr_retrieval_eval", "distill_pairs", "ref_distill",
    )),
    "sampling": _registry_group((
        "sequence_pack", "cap_per_source", "source_mix", "dsir_weights",
        "gumbel_topk", "token_budget", "temperature_mix", "epoch_plan",
        "repeat_upsample", "apply_mix", "clean_ingest", "soft_dedup_sample",
        "curriculum_shards",
    )),
    # write-path operators: timings land in `queries` like everything
    # else; rows/s + file counts + z-order span land in details.io_write
    "io_write": _group_io_write,
}


# ---------------------------------------------------------------------------
# ANN quality/cost curve (its own group: the dial sweep trains codebooks
# and centroids, which would warm/pressure unrelated queries).
# ---------------------------------------------------------------------------

ANN_DIALS = {
    "lsh": {
        "default": {"num_planes": 8, "multiprobe": 4},
        "high": {"num_planes": 8, "multiprobe": 5},
    },
    "ivf": {
        "default": {"n_centroids": 16, "n_probe": 6},
        "high": {"n_centroids": 16, "n_probe": 8},
    },
    # PQ trades exact-id recall for a 32x smaller scoring
    # representation; the dial raises codebook resolution.
    "pq": {
        "default": {"m": 8, "n_codes": 16},
        "high": {"m": 8, "n_codes": 64},
    },
    # The composed index: IVF bounds candidates, PQ bounds bytes;
    # residual encoding (default since r11) quantizes u - ĉ_cell so
    # same-cell members stop collapsing to identical codes; the
    # no_residual point keeps the r10 pathology on the record.
    "ivfpq": {
        "default": {
            "n_centroids": 16, "n_probe": 6, "m": 8, "n_codes": 16,
        },
        "high": {
            "n_centroids": 16, "n_probe": 8, "m": 8, "n_codes": 64,
        },
        "no_residual": {
            "n_centroids": 16, "n_probe": 6, "m": 8, "n_codes": 16,
            "residual": False,
        },
    },
    # The full cascade: compressed over-fetch + exact re-rank. The
    # over-fetch multiplier is the recall lever (r10: 30 -> 0.52
    # clustered; r11 study: 60 + residual -> ~0.9): PQ mis-ranks
    # WITHIN a shortlist far more than it misses the shortlist, and
    # a wider shortlist still moves codes, not vectors.
    "ivfpq_rerank": {
        "default": {
            "n_centroids": 16, "n_probe": 6, "m": 8, "n_codes": 16,
            "overfetch": 60,
        },
        "high": {
            "n_centroids": 16, "n_probe": 8, "m": 8, "n_codes": 16,
            "overfetch": 100,
        },
    },
}


def _recall_curve(corpus, queries, dim) -> dict[str, dict]:
    """Per-engine recall@5 vs the exact top-5 — published with SPREAD:
    rounds 4-7 ran a 10-query eval where each hit moved recall by 0.02,
    so dial orderings (e.g. PQ n_codes 16 vs 64) were noise; the r07
    verdict asked for >= 50 queries and per-query statistics. Recall is
    computed by the distributed ``ann_recall_table`` operator over the
    collected pair set; ``recall_at_5`` is the micro average (total
    hits / total exact pairs), ``recall_mean``/``recall_std`` the
    per-query macro statistics."""
    import statistics

    from polars_nexpresso_spark.functions.similarity import (
        ann_recall_table,
        cosine_topk,
        exact_rerank,
        ivf_ann_topk,
        ivfpq_ann_topk,
        lsh_ann_topk,
        pq_ann_topk,
    )

    spark = corpus.sparkSession
    exact = cosine_topk(corpus, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    exact = exact.persist()
    n_queries = exact.select("query_id").distinct().count()
    out: dict[str, dict] = {"n_queries": n_queries}
    for engine, dials in ANN_DIALS.items():
        out[engine] = {}
        for dial, params in dials.items():
            def _run():
                if engine == "lsh":
                    res = lsh_ann_topk(
                        corpus, queries, k=5, dim=dim, **params
                    )
                elif engine == "pq":
                    res = pq_ann_topk(corpus, queries, k=5, **params)
                elif engine == "ivfpq":
                    res = ivfpq_ann_topk(
                        corpus, queries, k=5, **params
                    )
                elif engine == "ivfpq_rerank":
                    p = dict(params)
                    overfetch = p.pop("overfetch", 60)
                    cand = ivfpq_ann_topk(
                        corpus, queries, k=overfetch, **p
                    )
                    res = exact_rerank(cand, corpus, queries, k=5)
                else:
                    res = ivf_ann_topk(corpus, queries, k=5, **params)
                return [
                    (r["query_id"], r["neighbor_id"])
                    for r in res.collect()
                ]

            # Warm once so the timed run measures QUERY cost: the first
            # IVF call pays one-time centroid training (memoized per
            # corpus) and codegen, which distorted the r4 dial curve
            # (default 10.8s vs high 4.3s for identical centroids).
            _run()
            start = time.perf_counter()
            pairs = _run()
            elapsed = round(time.perf_counter() - start, 3)
            approx = spark.createDataFrame(
                pairs or [(None, None)],
                "query_id long, neighbor_id long",
            )
            rows = ann_recall_table(approx, exact).collect()
            recalls = [float(r["recall"]) for r in rows]
            micro = sum(r["n_hit"] for r in rows) / max(
                sum(r["n_exact"] for r in rows), 1
            )
            out[engine][dial] = {
                **params,
                "recall_at_5": round(micro, 3),
                "recall_mean": round(statistics.mean(recalls), 3),
                "recall_std": round(
                    statistics.pstdev(recalls) if len(recalls) > 1 else 0.0,
                    3,
                ),
                "sec": elapsed,
            }
    exact.unpersist()
    return out


def _ann_dial(spark, sf_dir: str, errors: dict) -> dict[str, dict]:
    """Recall@k of each approximate engine vs the exact top-k at TWO dial
    settings, each timed — one point is a number, two points are the
    recall/cost curve an operator can actually steer. Reported on both the
    near-uniform sf corpus (ANN's worst case) and a clustered synthetic
    corpus (the shape real embedding models produce)."""
    ann_dial: dict[str, dict] = {}
    try:
        from polars_nexpresso_spark.pipeline_queries import _embedding_dim

        emb = spread(read_table(spark, sf_dir, "embeddings")).cache()
        emb.count()
        # >= 50 queries (r07 verdict: a 10-query eval made dial orderings
        # noise — each hit was worth 0.02 recall).
        uq = emb.filter(F.col("vec_id") < 50)
        ann_dial["uniform"] = _recall_curve(emb, uq, _embedding_dim(sf_dir))
        emb.unpersist()
    except Exception as e:  # noqa: BLE001
        errors["ann_dial_uniform"] = f"{type(e).__name__}: {e}"[:500]
    try:
        import numpy as np

        rng = np.random.default_rng(7)
        n_clusters, per_cluster, dim = 20, 100, 32
        centers = rng.normal(size=(n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for ci in range(n_clusters):
            noise = 0.08 * rng.normal(size=(per_cluster, dim))
            for v in centers[ci] + noise:
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        cdf = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(8).cache()
        cdf.count()
        # 50 queries spanning ALL 20 clusters (vec_ids are laid out
        # cluster-major, so `< 50` would sample only cluster 0).
        cq = cdf.filter(F.col("vec_id") % 40 == 0)
        ann_dial["clustered"] = _recall_curve(cdf, cq, dim)
        cdf.unpersist()
    except Exception as e:  # noqa: BLE001
        errors["ann_dial_clustered"] = f"{type(e).__name__}: {e}"[:500]
    return ann_dial


# ---------------------------------------------------------------------------
# Scale probe: measured wall-time scaling exponents. The plan-shape tests
# argue "survives 100x" structurally; this measures it. Two designs:
# (a) ORGANIC 10x — the driver generates each SF independently, so
# sf0.01 → sf0.1 is a true 10x corpus (used for the dedup ops, where
# self-similar copies would change the workload shape — every replica is a
# near-dup of its siblings — not just its size); (b) REPLICATED 4x —
# key-offset union of the cached flat frame (clean for pack: key spaces
# stay disjoint, list sizes unchanged). Big-side times reuse the medians
# measured in the query groups; small-side runs get one warmup + one timed
# run. exponent = log(t_big/t_small) / log(factor); ≤1.0 means
# at-worst-linear scaling at this size.
# ---------------------------------------------------------------------------

SCALE_PROBE_QUERIES = (
    "minhash_lsh", "dedup_clusters", "dup_window_frac", "fuzzy_name_pairs",
    # round-6 operators: organic exponents on the same dial
    "boilerplate_tokens", "semantic_dedup", "intradoc_dedup",
    "source_overlap", "token_budget",
    # round-7 operators
    "fixed_boilerplate", "dedup_best_keep", "hard_negatives",
    "hard_negatives_ann", "exact_substring_dedup", "strip_markup",
    "repeat_upsample", "ref_dedup", "clean_ingest", "pq_ann_topk",
    "ivfpq_ann_topk", "ivfpq_rerank", "hard_negatives_ivfpq",
    # round-8 operators
    "dedup_index", "bloom_dedup", "decontaminate_bloom", "bm25_index",
    # round-8 session-2 operators
    "soft_dedup_weights", "novelty_frac", "pmi_bigrams",
    "embedding_outliers", "dedup_pair_recall", "soft_dedup_sample",
    # round-9 operators
    "dedup_index_stream", "knn_label", "knn_label_ann",
    "diversity_sample", "oov_rate", "lexical_diversity",
    "curriculum_shards", "oov_annotate", "embedding_drift",
    # round-10 operators
    "mmr_per_query", "quality_calibrate", "char_entropy",
    "encoding_quality", "mmr_diversity_eval",
    # round-11 operators
    "mmr_retrieval_eval", "robust_dedup", "ref_dedup_robust",
    # round-12 operators
    "robust_dedup_unicode", "cross_rerank", "distill_pairs",
    # round-13 operators
    "ref_distill",
)


def _scale_probe(
    spark, sf_dir: str, timings: dict, errors: dict
) -> dict[str, dict]:
    import math

    from polars_nexpresso_spark.queries import QUERIES

    scale_probe: dict[str, dict] = {}

    def _probe_exp(t_small, t_big, factor):
        if not t_small or not t_big or t_small <= 0:
            return None
        return round(math.log(t_big / t_small) / math.log(factor), 2)

    def _once(fn, warm: bool = True) -> float:
        if warm:
            fn()
        start = time.perf_counter()
        fn()
        return round(time.perf_counter() - start, 3)

    def _big_time(name: str, fn) -> float | None:
        # The group medians are fresh-JVM warm medians; reuse them as the
        # big-side time. Re-measure warm when a group child failed.
        t = timings.get(name)
        if t is not None:
            return t
        try:
            return _once(fn)
        except Exception:  # noqa: BLE001
            return None

    packer = HierarchicalPacker(OL_SPEC)
    flat = flat_orders_lineitem(spark, sf_dir)
    flat.cache()
    flat.count()
    # This process is a fresh JVM: warm pack codegen once so the
    # replicated-4x single-shot below measures data, not compilation.
    force(packer.pack(flat, "orders"))
    t_big_pack = _big_time("pack", lambda: force(packer.pack(flat, "orders")))

    smaller = {"sf0.1": "sf0.01", "sf0.01": "sf0.001"}.get(Path(sf_dir).name)
    small_dir = str(Path(sf_dir).parent / smaller) if smaller else None
    if small_dir and Path(small_dir).exists():
        try:
            flat_s = flat_orders_lineitem(spark, small_dir)
            flat_s.cache()
            flat_s.count()
            t_s = _once(lambda: force(packer.pack(flat_s, "orders")))
            flat_s.unpersist()
            scale_probe["pack_organic_10x"] = {
                "t_small": t_s,
                "t_big": t_big_pack,
                "exponent": _probe_exp(t_s, t_big_pack, 10),
            }
        except Exception as e:  # noqa: BLE001
            errors["scale_pack_organic"] = f"{type(e).__name__}: {e}"[:300]
        for probe_name in SCALE_PROBE_QUERIES:
            q = QUERIES[probe_name]
            try:
                t_b = _big_time(probe_name, lambda: force(q(spark, sf_dir)))
                t_s = _once(lambda: force(q(spark, small_dir)))
                scale_probe[f"{probe_name}_organic_10x"] = {
                    "t_small": t_s,
                    "t_big": t_b,
                    "exponent": _probe_exp(t_s, t_b, 10),
                }
            except Exception as e:  # noqa: BLE001
                errors[f"scale_{probe_name}"] = f"{type(e).__name__}: {e}"[:300]
    try:
        parts = [flat]
        for i in range(1, 4):
            parts.append(
                flat.withColumn(
                    "orders.o_orderkey",
                    F.col("`orders.o_orderkey`") + F.lit(i * 1_000_000_000),
                )
            )
        flat4 = parts[0]
        for p in parts[1:]:
            flat4 = flat4.unionByName(p)
        flat4 = flat4.cache()
        flat4.count()
        # Single-shot (no warmup): pack codegen is warm from the explicit
        # warm run above; a warmup here would double a ~4x-sized run.
        t4 = _once(lambda: force(packer.pack(flat4, "orders")), warm=False)
        flat4.unpersist()
        scale_probe["pack_replicated_4x"] = {
            "t_small": t_big_pack,
            "t_big": t4,
            "exponent": _probe_exp(t_big_pack, t4, 4),
        }
    except Exception as e:  # noqa: BLE001
        errors["scale_pack_replicated"] = f"{type(e).__name__}: {e}"[:300]
    flat.unpersist()

    # fuzzy_join's risk case (round-5 ask): k=2 on ~40-char strings,
    # where the deletion neighborhood is O(len^2/2) per string. The
    # catalog query measures the benign case (k=1, 19-char names);
    # this probes the ceiling with real measured variant counts.
    try:
        from polars_nexpresso_spark.operators.fuzzyjoin import (
            deletion_variants,
            fuzzy_join,
        )

        docs40 = read_table(spark, sf_dir, "documents").select(
            F.col("doc_id"), F.substring("text", 1, 40).alias("s")
        )
        fa = docs40.select(
            F.col("doc_id").alias("id_a"), F.col("s").alias("s_a")
        )
        fb = docs40.select(
            F.col("doc_id").alias("id_b"), F.col("s").alias("s_b")
        )
        n_str = fa.count()
        n_var = fa.select(
            F.explode(deletion_variants(F.col("s_a"), 2))
        ).count()
        t_k2 = _once(
            lambda: force(
                fuzzy_join(
                    fa, fb, left_on="s_a", right_on="s_b", max_distance=2
                ).filter(F.col("id_a") < F.col("id_b"))
            )
        )
        scale_probe["fuzzy_k2_long_strings"] = {
            "strings": n_str,
            "string_len": 40,
            "variants_per_string": round(n_var / max(n_str, 1), 1),
            "variant_rows_per_side": n_var,
            "sec": t_k2,
            "ceiling": "variants/string ~ 1 + L + L(L-1)/2; keep "
            "L <= ~64 at k=2 (truncate the key or pre-block on a "
            "coarser key first) — shuffle volume is |distinct "
            "strings| x that quadratic factor",
        }
    except Exception as e:  # noqa: BLE001
        errors["scale_fuzzy_k2"] = f"{type(e).__name__}: {e}"[:300]

    try:
        # 4x parent-dominant split_join ratio. At 1x the split_join
        # side sits on a ~0.9s absolute JVM floor the ratio cannot
        # beat at sandbox scale; at 4x the floor amortizes, which is
        # the honest comparison against the reference's 0.11x
        # headline. Both strategies get one 1x warm run first (fresh
        # JVM here), then single-shot 4x timing.
        sl_packer = HierarchicalPacker(_supplier_lineitem_spec())
        li = read_table(spark, sf_dir, "lineitem")
        warm1x = _parent_dominant_frame(li).cache()
        warm1x.count()
        force(sl_packer.pack(warm1x, "lineitem", parent_strategy="aggregate"))
        force(sl_packer.pack(warm1x, "lineitem", parent_strategy="split_join"))
        warm1x.unpersist()
        dom_parts = [
            _parent_dominant_frame(
                li, key_offset=i * 1_000_000, order_offset=i * 1_000_000_000
            )
            for i in range(4)
        ]
        dom4 = dom_parts[0]
        for p in dom_parts[1:]:
            dom4 = dom4.unionByName(p)
        dom4 = dom4.cache()
        dom4.count()
        t_plain4 = _once(
            lambda: force(
                sl_packer.pack(dom4, "lineitem", parent_strategy="aggregate")
            ),
            warm=False,
        )
        t_sj4 = _once(
            lambda: force(
                sl_packer.pack(dom4, "lineitem", parent_strategy="split_join")
            ),
            warm=False,
        )
        dom4.unpersist()
        scale_probe["split_join_parent_dominant_4x"] = {
            "t_pack_4x": t_plain4,
            "t_split_join_4x": t_sj4,
            "ratio": round(t_sj4 / t_plain4, 3) if t_plain4 else None,
        }
    except Exception as e:  # noqa: BLE001
        errors["scale_split_join_dominant"] = f"{type(e).__name__}: {e}"[:300]

    try:
        # The REFERENCE's own parent-dominant config
        # (benchmarks/README.md:156): 64 children/parent, 16384-px
        # payload + 16 attrs per parent; 100 parents at 1x, 400 at
        # 4x. Payload elements are pseudo-random per index
        # (incompressible, like real pixels) but a pure function of
        # the parent id (group-uniform). On Spark BOTH strategies
        # are fast here: the plain pack's PARTIAL aggregation takes
        # first(payload) per key map-side, so the shuffle carries
        # ~keys x partitions payloads — not x children — which is
        # the very dedup split_join exists to do by hand in the
        # reference's engine. See docs/benchmarks.md, "Why the
        # parent-dominant ratio plateaus".
        from polars_nexpresso_spark import HierarchySpec, LevelSpec

        img_spec = HierarchySpec.from_levels(
            LevelSpec(name="image", id_fields=["img_id"]),
            LevelSpec(name="patch", id_fields=["patch_id"]),
        )
        img_packer = HierarchicalPacker(img_spec)

        def _ref_shape(n_parents: int):
            base = spark.range(n_parents * 64).select(
                (F.col("id") / 64).cast("long").alias("image.img_id"),
                F.col("id").alias("image.patch.patch_id"),
                (F.col("id") % 997).cast("double").alias("image.patch.val"),
            )
            payload = F.expr(
                "transform(sequence(1, 16384), i -> cast((`image.img_id`"
                " * 2654435761 + i * 40503) % 65536 AS float))"
            )
            out = base.withColumn("image.payload", payload)
            for a in range(16):
                out = out.withColumn(
                    f"image.attr{a}",
                    (F.col("`image.img_id`") * a).cast("double"),
                )
            return out

        ref_probe: dict[str, dict] = {}
        for n_parents, label in ((100, "1x"), (400, "4x")):
            dom_ref = _ref_shape(n_parents).cache()
            dom_ref.count()
            t_plain = _once(
                lambda: force(
                    img_packer.pack(
                        dom_ref, "patch", parent_strategy="aggregate"
                    )
                )
            )
            t_sj = _once(
                lambda: force(
                    img_packer.pack(
                        dom_ref, "patch", parent_strategy="split_join"
                    )
                )
            )
            dom_ref.unpersist()
            ref_probe[label] = {
                "t_pack": t_plain,
                "t_split_join": t_sj,
                "ratio": round(t_sj / t_plain, 3) if t_plain else None,
            }
        scale_probe["split_join_parent_dominant_ref_shape"] = ref_probe
    except Exception as e:  # noqa: BLE001
        errors["scale_split_join_ref_shape"] = f"{type(e).__name__}: {e}"[:300]
    return scale_probe


# ---------------------------------------------------------------------------
# Child / parent orchestration
# ---------------------------------------------------------------------------


def _run_child_group(group: str, sf_dir: str, timings_path: str | None) -> None:
    """Child mode: run ONE group in this fresh JVM, print a JSON line."""
    spark = get_spark(app_name=f"pns-bench-{group}")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    peaks: dict[str, float] = {}
    errors: dict[str, str] = {}
    extras: dict = {}
    runs: dict[str, list[float]] = {}
    bench = _make_bench(spark, timings, peaks, errors, runs)
    # Group-level catch: a failure in a runner's SETUP (not inside a
    # bench()-measured query) must still emit this child's JSON line —
    # otherwise every already-measured median in the group is lost.
    try:
        if group == "ann_dial":
            extras["ann_recall_at_k"] = _ann_dial(spark, sf_dir, errors)
        elif group == "scale_probe":
            merged: dict[str, float] = {}
            if timings_path and Path(timings_path).exists():
                merged = json.loads(Path(timings_path).read_text())
            extras["scale_probe"] = _scale_probe(
                spark, sf_dir, merged, errors
            )
        elif group == "io_write":
            extras["io_write"] = _group_io_write(spark, sf_dir, bench)
        else:
            GROUPS[group](spark, sf_dir, bench)
    except Exception as e:  # noqa: BLE001
        errors[f"group_{group}"] = f"{type(e).__name__}: {e}"[:500]
    print(json.dumps({
        "group": group,
        "peaks": peaks,
        "errors": errors,
        "extras": extras,
        "runs": runs,
    }))


def _spawn_group(group: str, sf_dir: str, timings_path: str | None = None) -> dict:
    cmd = [sys.executable, __file__, "--group", group]
    if timings_path:
        cmd += ["--timings", timings_path]
    try:
        proc = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            timeout=GROUP_TIMEOUT_SEC,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        )
    except subprocess.TimeoutExpired:
        return {"group": group, "errors": {group: "group timeout"}}
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if rec.get("group") == group:
            return rec
    return {
        "group": group,
        "errors": {group: (proc.stderr or "no output").strip()[-400:]},
    }


# Code whose behavior the sealed ann_recall_at_k / scale_probe grids in
# BENCH_DETAILS.json measure. The hash is stored with the sealed grids and
# re-checked by default (non-seal-extras) runs, which carry the committed
# grids forward — a code change after the seal flags
# errors["stale_sealed_grids"] instead of silently shipping stale grids
# (or wiping them, the pre-r13 behavior). ADVICE r12 item 3.
def _grid_code_hash() -> str:
    import hashlib

    h = hashlib.sha256()
    paths = sorted((REPO / "polars_nexpresso_spark").rglob("*.py"))
    paths.append(REPO / "bench.py")
    for p in paths:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _carry_sealed_grids(
    prev: dict | None, current_hash: str
) -> tuple[dict, dict, dict, str | None]:
    """Default-run handling of the committed sealed grids: return
    (ann_recall_at_k, scale_probe, grids_meta, stale_message). Grids are
    carried forward from the committed BENCH_DETAILS.json; the message
    is non-None when the committed code hash is absent (pre-r13 seal) or
    no longer matches the working tree."""
    if not prev:
        return {}, {}, {}, "no committed BENCH_DETAILS.json to carry grids from"
    ann = prev.get("ann_recall_at_k") or {}
    scale = prev.get("scale_probe") or {}
    meta = dict(prev.get("sealed_grids_meta") or {})
    if not (ann or scale):
        return ann, scale, meta, "committed BENCH_DETAILS.json holds no sealed grids"
    sealed_hash = meta.get("code_hash")
    if sealed_hash is None:
        msg = (
            "sealed grids are unsigned (sealed before the r13 code-hash "
            "stamp); re-seal with SPARK_GRAFT_SEAL_EXTRAS=1 to sign them"
        )
    elif sealed_hash != current_hash:
        msg = (
            f"sealed grids code_hash {sealed_hash} != working tree "
            f"{current_hash} — code measured by the grids changed since "
            "the seal; re-run with SPARK_GRAFT_SEAL_EXTRAS=1"
        )
    else:
        msg = None
    meta["carried_forward"] = True
    return ann, scale, meta, msg


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    only = os.environ.get("SPARK_GRAFT_GROUPS")  # comma-separated subset
    # The ANN dial grid (~20 cells x warm+timed runs) and the scale-probe
    # sweep only run on request: a default run must reach the RSS probes
    # inside its deadline. Default runs carry the committed grids forward.
    seal_extras = os.environ.get("SPARK_GRAFT_SEAL_EXTRAS", "0") == "1"
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "3000"))

    timings: dict[str, float] = {}
    peaks: dict[str, float] = {}
    errors: dict[str, str] = {}
    ann_dial: dict[str, dict] = {}
    scale_probe: dict[str, dict] = {}
    query_stats: dict[str, dict] = {}
    io_write_extras: dict[str, dict] = {}
    rss_isolated: dict[str, float] = {}
    # Committed seal, read BEFORE this run can overwrite it: default runs
    # carry its sealed grids forward.
    prev_seal: dict | None = None
    try:
        prev_seal = json.loads((REPO / "BENCH_DETAILS.json").read_text())
    except (OSError, json.JSONDecodeError):
        prev_seal = None

    # The run is TRUNCATION-SAFE: a cumulative partial headline line
    # prints after every group (a reader that keeps a tail of stdout
    # parses the LAST headline, so a kill mid-run still leaves a parseable
    # record of everything completed), and the optional post-group stages
    # are skipped past the deadline so the final headline still gets
    # emitted under an outer timeout.
    bench_start = time.monotonic()

    def _total() -> float:
        # The engine's fast paths; the slow memory modes' per-query
        # numbers stay in the JSON.
        return round(
            sum(v for k, v in timings.items() if k not in SLOW_MODES), 3
        )

    def _emit_partial(stage: str) -> None:
        print(json.dumps({
            "metric": "pns_bench_total",
            "partial": True,
            "after_stage": stage,
            "value": _total(),
            "unit": "sec",
            "queries": timings,
            "errors": errors,
            "sf": sf,
        }), flush=True)

    def _over_deadline(stage: str) -> bool:
        if time.monotonic() - bench_start <= deadline:
            return False
        errors[f"skipped_{stage}"] = (
            f"bench deadline {deadline:.0f}s exceeded at "
            f"{time.monotonic() - bench_start:.0f}s"
        )
        return True

    for group in GROUPS:
        if only and group not in only.split(","):
            continue
        rec = _spawn_group(group, sf_dir)
        io_write_extras.update(rec.get("extras", {}).get("io_write", {}))
        peaks.update(rec.get("peaks", {}))
        errors.update(rec.get("errors", {}))
        for qname, rlist in rec.get("runs", {}).items():
            rlist = sorted(rlist)
            timings[qname] = round(rlist[len(rlist) // 2], 3)
            query_stats[qname] = {
                "median": timings[qname],
                "min": round(rlist[0], 3),
                "max": round(rlist[-1], 3),
                "runs": rlist,
            }
        _emit_partial(group)
    # RSS first among the post-group stages: bounded_rss_ratio is the
    # headline memory claim, so it must land even when a slow host eats
    # the remaining budget. Fresh-process peak RSS per op (the reference
    # methodology); warm-JVM watermarks cannot isolate it.
    if not only and not _over_deadline("rss_isolated"):
        try:
            rss_isolated, probe_secs = _isolated_rss(sf_dir)
            # Single-shot capped-heap time (no warm median exists).
            if "pack_heap_capped" in probe_secs:
                timings["pack_heap_capped"] = probe_secs["pack_heap_capped"]
        except Exception:  # noqa: BLE001 — bench must emit its line
            rss_isolated = {}
    if seal_extras and not _over_deadline("ann_dial"):
        rec = _spawn_group("ann_dial", sf_dir)
        ann_dial = rec.get("extras", {}).get("ann_recall_at_k", {})
        errors.update(rec.get("errors", {}))
    if seal_extras and not _over_deadline("scale_probe"):
        with tempfile.NamedTemporaryFile(
            "w", suffix=".json", delete=False
        ) as tf:
            json.dump(timings, tf)
            timings_path = tf.name
        rec = _spawn_group("scale_probe", sf_dir, timings_path)
        scale_probe = rec.get("extras", {}).get("scale_probe", {})
        errors.update(rec.get("errors", {}))
        os.unlink(timings_path)

    # The headline memory-bounding claim (BASELINE.md band 0.42-0.50x):
    # the SAME one-shot pack completes under a hard 800 MB driver heap by
    # spilling (fresh JVM per probe) — on Spark, peak memory is a
    # configuration bound, not a function of data size. ratio =
    # capped-heap peak RSS / uncapped pack peak RSS.
    bounded_rss: dict = {}
    if rss_isolated.get("pack") and rss_isolated.get("pack_heap_capped"):
        bounded_rss = {
            "criterion": (
                "one-shot pack under a fully capped JVM config (800m heap + "
                "bounded direct/metaspace/codecache/stacks) completes by "
                "spilling; ratio = capped RSS / uncapped pack RSS, fresh JVM "
                "per probe (BASELINE.md band 0.42-0.50x). The same-SF ratio "
                "floors at the JVM's fixed overhead; the 4x probe is the "
                "scale claim — the SAME capped config absorbs 4x the rows "
                "(with shuffle partitions scaled 4x to hold per-reducer "
                "state constant, the standard scale response) while "
                "uncapped RSS grows with the data."
            ),
            "capped_heap_mb": rss_isolated["pack_heap_capped"],
            "uncapped_pack_mb": rss_isolated["pack"],
            "ratio": round(
                rss_isolated["pack_heap_capped"] / rss_isolated["pack"], 2
            ),
        }
        if rss_isolated.get("pack_4x") and rss_isolated.get(
            "pack_heap_capped_4x"
        ):
            bounded_rss["capped_4x_mb"] = rss_isolated["pack_heap_capped_4x"]
            bounded_rss["uncapped_4x_mb"] = rss_isolated["pack_4x"]
            bounded_rss["ratio_4x"] = round(
                rss_isolated["pack_heap_capped_4x"] / rss_isolated["pack_4x"],
                2,
            )
        if rss_isolated.get("pack_streaming_bounded"):
            bounded_rss["bucket_loop_mb"] = rss_isolated[
                "pack_streaming_bounded"
            ]
            bounded_rss["bucket_loop_ratio"] = round(
                rss_isolated["pack_streaming_bounded"] / rss_isolated["pack"],
                2,
            )

    # Sign fresh sealed grids with the code hash; otherwise carry the
    # committed grids forward, flagging staleness.
    grid_hash = _grid_code_hash()
    if ann_dial or scale_probe:
        grids_meta: dict = {"code_hash": grid_hash, "sealed_extras": True}
    else:
        ann_dial, scale_probe, grids_meta, stale_msg = _carry_sealed_grids(
            prev_seal, grid_hash
        )
        if stale_msg:
            errors["stale_sealed_grids"] = stale_msg

    headline = {
        "metric": "pns_bench_total",
        "value": _total(),
        "unit": "sec",
        "queries": timings,
        # Per-query min of the timed runs: the fast-host-regime sample
        # that adjudicates a suspect median without leaving the record.
        "queries_min": {q: s["min"] for q, s in query_stats.items()},
        "total_excludes": sorted(SLOW_MODES & set(timings)),
        "bounded_rss_ratio": bounded_rss.get(
            "ratio_4x", bounded_rss.get("ratio")
        ),
        "sf": sf,
    }
    details = {
        "peak_rss_mb": peaks,
        "peak_rss_mb_isolated": rss_isolated,
        "errors": errors,
        "scale_probe": scale_probe,
        "ann_recall_at_k": ann_dial,
        # Provenance of the two grids above: code_hash signs the working
        # tree they were measured on; carried_forward marks a default run
        # that re-published the committed seal's grids (staleness, if
        # any, is in errors["stale_sealed_grids"]).
        "sealed_grids_meta": grids_meta,
        "bounded_rss": bounded_rss,
        # Per-query median/min/max with the raw timed runs.
        "query_stats": query_stats,
        # Write-path visibility: rows/s, files written, and the z-order
        # both-column file-span locality for the four materializing
        # writers; timings ride `queries`.
        "io_write": io_write_extras,
        "protocol": {
            "unit": f"one fresh python+JVM child per group; {WARMUP} "
            f"warm-up, then the median of {REPEAT} timed runs per query; "
            "pack_heap_capped is the single-shot capped RSS probe",
            "seal_extras": (
                "ran (SPARK_GRAFT_SEAL_EXTRAS=1)" if seal_extras
                else "skipped: ann_recall_at_k + scale_probe run only "
                "on request so a default run always reaches the RSS "
                "probes; the sealed grids live in the committed "
                "BENCH_DETAILS.json"
            ),
            "groups": {
                g: sorted(n for n in timings if n in GROUPS[g].names)
                for g in GROUPS
            },
        },
    }
    # Full-fidelity sidecar, committed with the round evidence. A group
    # subset run never overwrites it.
    if not only:
        try:
            (REPO / "BENCH_DETAILS.json").write_text(
                json.dumps({**headline, **details}, indent=2) + "\n"
            )
        except OSError:
            pass
    # One JSON object per line, details first, compact headline LAST: a
    # reader that keeps a bounded tail of stdout always captures the
    # parseable summary line.
    for key in (
        "peak_rss_mb",
        "peak_rss_mb_isolated",
        "errors",
        "scale_probe",
        "ann_recall_at_k",
        "sealed_grids_meta",
        "bounded_rss",
        "protocol",
    ):
        print(json.dumps({"detail": key, key: details[key]}))
    print(json.dumps(headline))


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) >= 3 and sys.argv[1] == "--rss-probe":
        _rss_probe(sys.argv[2], sf_dir)
    elif len(sys.argv) >= 3 and sys.argv[1] == "--group":
        tp = None
        if "--timings" in sys.argv:
            tp = sys.argv[sys.argv.index("--timings") + 1]
        _run_child_group(sys.argv[2], sf_dir, tp)
    else:
        main()
