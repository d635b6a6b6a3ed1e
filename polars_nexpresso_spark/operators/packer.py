"""HierarchicalPacker — the core reshaping engine, Spark-first.

Re-expresses the reference's hierarchical pack/unpack system
(``nexpresso/hierarchical_packer.py``, SURVEY §2.C) on the Spark DataFrame
API. Design notes for scale (SURVEY §4):

- The pack kernel is ``groupBy(ancestor_keys).agg(sorted collect_list(struct),
  first(ignorenulls))`` — a plain shuffled hash aggregation that Catalyst
  plans with partial/final phases and spill; an N-level pack to root is N
  chained shuffles on progressively coarser keys. No global sort anywhere:
  child-list order is established *inside* the aggregation by sorting
  ``struct(sort keys, payload)`` wrappers with the native ``sort_array``
  (``array_sort`` with a key-only comparator only for payloads Spark cannot
  order, e.g. maps), and the minimum child row-id is carried upward per
  group so multi-level packs keep nested order without a pipeline-breaking
  sort (reference ``:2641-2693``).
- Top-level row order after pack is explicitly NOT guaranteed (reference
  ``README.md:251-254``) — Spark's unordered shuffle matches the contract
  as-is.
- ``pack_streaming``'s hash-bucketing (reference ``:1103-1211``) exists to
  bound peak memory in a single-process engine; Spark's shuffle already hash
  partitions and spills, so the parity wrapper is ``repartition(K, root_keys)``
  (+ optional parquet checkpoint for the disk-to-disk mode). ``bounded=True``
  keeps the reference's K sequential bucket jobs, each re-reading a
  reproducible source through a root-key hash filter; only a source that
  must be evaluated once is staged to parquet first. Between buckets it
  runs a full GC when, and only when, the driver heap can shrink: G1
  uncommits heap on a full collection but never below ``MinHeapSize``
  (``-Xms``), so under a pinned heap the GC could return nothing.
- ``parent_strategy="split_join"`` (reference ``:1033-1072``) factors heavy
  root attributes into a per-root-key dim table before the aggregation and
  joins them back after — a shuffle-volume optimization Catalyst cannot infer
  (it cannot know a column is group-uniform). The dim table has root-entity
  cardinality, so the join is left to AQE (broadcast only when it is small).
- Parent/carried attributes collapse with ``first(ignorenulls=True)`` —
  order-independent dedup + null recovery (reference ``:2678``).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping, Sequence
from typing import Literal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import ArrayType, DataType, StructType, UserDefinedType

from polars_nexpresso_spark.columns import (
    DEFAULT_ESCAPE_CHAR,
    DEFAULT_SEPARATOR,
    ORDER_TEMP_COLUMN_PREFIX,
    ROW_ID_COLUMN,
    escape_field,
    join_path,
    qcol,
    split_path,
    unescape_field,
    with_field,
)
from polars_nexpresso_spark.operators.crosslevel import CrossLevelMixin
from polars_nexpresso_spark.operators.introspect import IntrospectionMixin
from polars_nexpresso_spark.plans.spec import (
    ExtraColumnsMode,
    HierarchySpec,
    HierarchyValidationError,
    LevelMetadata,
    ParentStrategy,
    build_metadata,
)
from polars_nexpresso_spark.plans.stats import plan_size_bytes
from polars_nexpresso_spark.sources.io import scratch_dir


def _struct_key_comparator(key_fields: Sequence[str]) -> Callable[[Column, Column], Column]:
    """Comparator over wrapper structs that compares ONLY the sort-key fields,
    with nulls ordered first (the reference's ``sort_by`` default).

    The fallback of :func:`sort_by_keys` for payloads ``sort_array`` cannot
    order (e.g. a map): restricting comparison to the key fields keeps the
    sort legal, and ties keep arrival order. Spark evaluates the lambda
    interpreted, so it costs several times the native sort.
    """

    def cmp(left: Column, right: Column) -> Column:
        result = F.lit(0)
        for k in reversed(key_fields):
            lk, rk = left[k], right[k]
            result = (
                F.when(lk.isNull() & rk.isNull(), result)
                .when(lk.isNull(), F.lit(-1))
                .when(rk.isNull(), F.lit(1))
                .when(lk < rk, F.lit(-1))
                .when(lk > rk, F.lit(1))
                .otherwise(result)
            )
        return result

    return cmp


# Leaf types Spark can order (``RowOrdering.isOrderable``). A whitelist, so
# types Spark cannot order (map, variant, calendar interval, geometry) and
# any type this list does not know take the comparator fallback.
_ORDERABLE_LEAVES = tuple(
    t
    for t in (
        getattr(T, name, None)
        for name in (
            "NullType", "BooleanType", "NumericType", "StringType", "CharType",
            "VarcharType", "BinaryType", "DateType", "TimestampType",
            "TimestampNTZType", "TimeType", "DayTimeIntervalType",
            "YearMonthIntervalType",
        )
    )
    if t is not None
)


def orderable(*dtypes: DataType) -> bool:
    """Whether Spark can order values of every one of ``dtypes``."""
    for dtype in dtypes:
        if isinstance(dtype, StructType):
            ok = orderable(*[f.dataType for f in dtype.fields])
        elif isinstance(dtype, ArrayType):
            ok = orderable(dtype.elementType)
        elif isinstance(dtype, UserDefinedType):
            ok = orderable(dtype.sqlType())
        else:
            ok = isinstance(dtype, _ORDERABLE_LEAVES)
        if not ok:
            return False
    return True


def key_wrapper(keys: Sequence[Column], payload: Column) -> Column:
    """``struct(__k0, …, __v)``: sort keys ahead of the payload they order."""
    return F.struct(
        *[k.alias(f"__k{i}") for i, k in enumerate(keys)], payload.alias("__v")
    )


def sort_by_keys(wrappers: Column, n_keys: int, is_orderable: bool) -> Column:
    """Sort an array of :func:`key_wrapper` structs by their keys (nulls
    first) and project the payloads back out — the one child-list sort.

    When the wrapper is orderable (``is_orderable``, see :func:`orderable`)
    this is ``sort_array(wrappers).__v``: ``SortArray`` and
    ``GetArrayStructFields`` are both codegen'd. Keys that tie fall through
    to the payload; the packer's row-id key never ties, so with
    ``preserve_child_order`` the order is exactly the key order.
    ``sort_array`` rejects a non-orderable payload at analysis, so those
    take ``array_sort`` with a key-only comparator instead.
    """
    if is_orderable:
        return F.sort_array(wrappers)["__v"]
    keys = [f"__k{i}" for i in range(n_keys)]
    return F.transform(
        F.array_sort(wrappers, _struct_key_comparator(keys)), lambda x: x["__v"]
    )


def _min_heap_bytes(session: SparkSession) -> int | None:
    """The driver JVM's ``MinHeapSize`` (``-Xms``), read from HotSpot's
    diagnostic bean; None when it cannot be read (Spark Connect, a
    non-HotSpot JVM)."""
    try:
        jvm = session.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        return int(bean.getVMOption("MinHeapSize").getValue())
    except Exception:  # noqa: BLE001 — Connect / non-HotSpot
        return None


def _heap_can_shrink(session: SparkSession, min_heap: int | None) -> bool:
    """Whether a full GC could return driver heap to the OS: G1 uncommits
    only down to ``MinHeapSize``, so the committed heap must be above it.
    Committed heap is read on every call (a ``-Xms`` < ``-Xmx`` heap grows
    mid-run); True when the minimum is unknown."""
    if min_heap is None:
        return True
    runtime = session.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return runtime.totalMemory() > min_heap


def _delete_path(session: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop ``FileSystem``, so any
    scheme (``file://``, ``hdfs://``, ``s3a://``) works; a local path is
    removed directly when there is no JVM handle (Spark Connect)."""
    try:
        p = session._jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(session._jsc.hadoopConfiguration()).delete(p, True)
    except Exception:  # noqa: BLE001 — Connect: no JVM handle
        shutil.rmtree(path, ignore_errors=True)


class HierarchicalPacker(CrossLevelMixin, IntrospectionMixin):
    """Pack/unpack nested hierarchies on Spark DataFrames.

    Assumes a configurable separator-based naming scheme and a strict tree
    (no cross-links); all behavior is driven by a :class:`HierarchySpec`.

    Args:
        spec: The hierarchy specification.
        granularity_separator: Separator between hierarchy levels in column
            names (default ``"."``; every such column is referenced through
            backtick quoting internally).
        escape_char: Escapes the separator inside field names (default ``\\``).
        preserve_child_order: Keep best-effort input row order when packing
            children into lists. Spark has no contractual input-order row id;
            this uses ``monotonically_increasing_id()``, which follows file /
            partition read order in practice (stable for Parquet scans) but is
            only *guaranteed* deterministic when a level declares ``order_by``
            (SURVEY §7.3 item 2). When False, children that tie on
            ``order_by`` are ordered by their payload (when orderable).
        validate_on_pack: Run the group-uniformity data check during pack.
            Default False: the check costs one extra aggregation job per
            packed level. (The reference defaults True but silently skips it
            for lazy inputs — reference ``:1000-1001`` — and Spark frames are
            always lazy; an explicit flag replaces the implicit skip.)
    """

    def __init__(
        self,
        spec: HierarchySpec,
        *,
        granularity_separator: str = DEFAULT_SEPARATOR,
        escape_char: str = DEFAULT_ESCAPE_CHAR,
        preserve_child_order: bool = True,
        validate_on_pack: bool = False,
    ) -> None:
        if escape_char == granularity_separator:
            raise ValueError(
                "escape_char and granularity_separator must differ; both "
                f"are '{escape_char}'."
            )
        self.spec: HierarchySpec = spec
        self.separator: str = granularity_separator
        self.escape_char: str = escape_char
        self.preserve_child_order: bool = preserve_child_order
        self.validate_on_pack: bool = validate_on_pack
        self._levels_meta: list[LevelMetadata] = build_metadata(
            spec, granularity_separator, escape_char
        )
        self._computed_exprs: dict[str, Column] = self._collect_computed_exprs()

    # ===== Separator escaping (instance-configured wrappers) =====

    def _escape_field(self, name: str) -> str:
        return escape_field(name, self.separator, self.escape_char)

    def _unescape_field(self, name: str) -> str:
        return unescape_field(name, self.separator, self.escape_char)

    def _split_path(self, path: str) -> list[str]:
        return split_path(path, self.separator, self.escape_char)

    def _join_path(self, components: Sequence[str]) -> str:
        return join_path(components, self.separator, self.escape_char)

    # ===== Core public API: pack / unpack =====

    def pack(
        self,
        frame: DataFrame,
        to_level: str,
        *,
        extra_columns: ExtraColumnsMode = "preserve",
        parent_strategy: ParentStrategy = "auto",
        skew_salt: int | None = None,
    ) -> DataFrame:
        """Fold flat columns into nested ``array<struct>`` per level, leaf →
        ``to_level``, grouping each level by its ancestor keys.

        Args:
            frame: Flat (or partially packed) DataFrame.
            to_level: Target level; this level and everything finer is folded.
                Packing to the root collapses the root itself into a single
                bare struct column.
            extra_columns: Non-hierarchy columns: ``"preserve"`` keeps them
                (aggregated ``first(ignorenulls)`` — they must be uniform per
                group), ``"drop"`` drops them, ``"error"`` raises.
            parent_strategy: ``"aggregate"`` carries root attributes
                through the group-by; ``"split_join"`` factors them into a
                per-root-key dim table and reattaches after packing — far
                cheaper when root attributes are heavy relative to child data
                (payload not replicated through the shuffle), a regression
                when child data dominates (the reference keeps it opt-in).
                ``"auto"`` (default) picks from the SCHEMA: any
                complex-typed root attribute (array/struct/map/binary)
                routes to split_join — measured 0.50-0.68x of the plain
                pack on such shapes because the wide rows otherwise ride
                the aggregation's sort path (docs/benchmarks.md) — while
                scalar-only attrs stay on the plain pack, whose partial
                aggregation already dedups them map-side at no extra cost.
                At 100 TB the wrong choice costs 1.5-2x; the default makes
                the measured winner fire without retuning, and both
                explicit strategies remain available to pin a plan.
            skew_salt: When set (e.g. 32), each grouped level folds in TWO
                phases — ``groupBy(keys, salt)`` partial chunks, then
                ``groupBy(keys)`` flatten + sort — so one pathological parent
                with millions of children spreads over ``skew_salt`` reducers
                instead of stalling a single task. Content-identical to the
                plain pack (child order re-established at the merge); costs
                an extra shuffle, so keep it off for well-distributed keys.

        Raises:
            KeyError: If the level is not found.
            HierarchyValidationError: On extra_columns="error" violations, or
                non-uniform group values when ``validate_on_pack`` is set.
        """
        if parent_strategy == "auto":
            parent_strategy = self._choose_parent_strategy(frame)
        if parent_strategy == "split_join":
            return self._pack_split_join(
                frame, to_level, extra_columns=extra_columns, skew_salt=skew_salt
            )

        df, added_cols = self._prepare_frame(frame)
        return self._pack_prepared(
            df,
            to_level,
            extra_columns=extra_columns,
            skew_salt=skew_salt,
            added_cols=added_cols,
        )

    def _pack_prepared(
        self,
        df: DataFrame,
        to_level: str,
        *,
        extra_columns: ExtraColumnsMode,
        skew_salt: int | None,
        added_cols: tuple[str, ...],
    ) -> DataFrame:
        """Pack kernel over an already-``_prepare_frame``-ed DataFrame.

        Split out so ``_pack_split_join`` can pack its structural branch
        without running ``_prepare_frame`` twice (the second run would
        re-evaluate key-alias / computed-key expressions on every row for
        no semantic effect)."""
        extra_cols = self._identify_extra_columns(df.columns)
        if extra_cols and extra_columns == "error":
            shown = extra_cols[:5] + (["..."] if len(extra_cols) > 5 else [])
            raise HierarchyValidationError(
                f"Found {len(extra_cols)} column(s) not part of the "
                f"hierarchy: {shown}. Use extra_columns='preserve' to keep "
                "them or 'drop' to remove them.",
                details={"extra_columns": extra_cols},
            )
        if extra_cols and extra_columns == "drop":
            df = df.drop(*extra_cols)

        target_idx = self.spec.index_of(to_level)
        grouped = [
            i
            for i in range(target_idx, len(self._levels_meta))
            if self._levels_meta[i].ancestor_keys
        ]
        if skew_salt is None and len(grouped) >= 2:
            # r13 (guide §2.4/§8): chained level folds group by a strict
            # SUBSET chain of keys (K_leaf ⊃ … ⊃ K_coarsest), so one
            # up-front hash repartition on the SECOND-COARSEST grouped
            # level's keys satisfies every finer level's clustering
            # requirement (HashPartitioning on a subset of the groupBy
            # keys) — the FLAT rows shuffle once and only the coarsest
            # fold pays a further exchange, instead of re-shuffling
            # progressively nested array<struct> payloads once per
            # level (N-level pack: N exchanges → 2, and the heavy ones
            # now carry flat rows). Row ids (best-effort child order)
            # are assigned BEFORE the repartition so they keep
            # reflecting input order; in-agg sorting makes list
            # contents deterministic exactly as before. Skipped under
            # skew_salt (the salt exists to spread one hot parent
            # across reducers, which a coarser pre-partition would
            # undo) and — via the plan probe below — when the input
            # already arrives suitably distributed (bucketed level
            # tables plan their folds with ZERO added exchanges; an
            # unconditional repartition would regress that pinned
            # property).
            if self.preserve_child_order:
                df = self._with_row_id(df)

            def _hash_exchanges(frame: DataFrame) -> int:
                plan = frame._jdf.queryExecution().executedPlan().toString()
                return plan.count("Exchange hashpartitioning")

            naive = df
            for level_idx in reversed(range(target_idx, len(self._levels_meta))):
                naive = self._pack_single_level(
                    naive, level_idx, validate=False, salt=None
                )
            try:
                # Fire only when every grouped fold pays its own
                # exchange in the naive plan (raw/joined inputs); any
                # pre-satisfied distribution (bucketed scans) keeps the
                # cheaper natural plan.
                fire = (
                    _hash_exchanges(naive) - _hash_exchanges(df)
                    >= len(grouped)
                )
            except Exception:  # noqa: BLE001 — Connect: no plan handle
                # Probe unavailable (Spark Connect): keep the naive plan.
                # It is never worse than pre-r13 behavior, whereas an
                # unconditional repartition would regress bucketed
                # inputs off their pinned zero-exchange plans — exactly
                # what the probe exists to prevent (r14, ADVICE r13).
                fire = False
            if fire:
                df = df.repartition(
                    *[
                        qcol(k)
                        for k in self._levels_meta[grouped[1]].ancestor_keys
                    ]
                )
            elif not self.validate_on_pack:
                # The probe plan IS the result plan — reuse it.
                if added_cols:
                    naive = naive.drop(*added_cols)
                return self._drop_internal_columns(naive)
        for level_idx in reversed(range(target_idx, len(self._levels_meta))):
            df = self._pack_single_level(
                df, level_idx, validate=self.validate_on_pack, salt=skew_salt
            )

        if added_cols:
            df = df.drop(*added_cols)
        return self._drop_internal_columns(df)

    def _root_attribute_columns(self, columns: Sequence[str]) -> list[str]:
        """Columns owned by the root level itself (attrs, not keys/children)."""
        root = self._levels_meta[0]
        keys = set(root.id_columns)
        below = (
            self._levels_meta[1].prefix if len(self._levels_meta) > 1 else None
        )
        return [
            c
            for c in columns
            if c.startswith(root.prefix)
            and c not in keys
            and c != ROW_ID_COLUMN
            and not (below is not None and c.startswith(below))
        ]

    def _choose_parent_strategy(self, frame: DataFrame) -> ParentStrategy:
        """Schema-driven strategy choice for ``parent_strategy="auto"``.

        Complex-typed root attributes (array/struct/map/binary) make the
        pack aggregation's ``first(attr)`` buffers object-typed, which at
        realistic per-partition key counts runs the wide rows through the
        aggregation's sort path — the measured case where split_join wins
        (0.50x at sf0.1, 0.65x at 4x on the supplier shape;
        docs/benchmarks.md). Scalar attributes ride the partial
        aggregation's map-side dedup at no extra cost, where split_join's
        dim scan would be pure overhead (measured ~1x on the reference's
        own parent-dominant shape). A pure schema inspection: no job, no
        stats, deterministic.
        """
        from pyspark.sql.types import BinaryType, MapType

        for col in self._root_attribute_columns(frame.columns):
            dt = frame.schema[col].dataType
            if isinstance(dt, (ArrayType, StructType, MapType, BinaryType)):
                return "split_join"
        return "aggregate"

    @staticmethod
    def _maybe_broadcast(dim: DataFrame) -> DataFrame:
        """Broadcast-hint the dim when Catalyst's estimate says it fits.

        Catalyst's static size estimate for the post-dedup dim (driver-side
        plan stat — no job) is compared against the session's
        ``autoBroadcastJoinThreshold``; under it, the hint pins the
        broadcast-hash join at planning time instead of waiting for AQE's
        runtime re-plan (which only converts the join AFTER the dim's
        shuffle map stage ran). The estimate is conservative for
        aggregations — it scales the child's size, so a heavy pre-dedup
        input keeps the hint off and AQE remains the fallback, which is the
        safe direction at 100 TB (never broadcast on an under-estimate).
        An unknown size (Connect, stat-less leaves) gets no hint.
        """
        size = plan_size_bytes(dim)
        if size is None:
            return dim
        conf = dim.sparkSession._jsparkSession.sessionState().conf()
        if 0 < size <= int(conf.autoBroadcastJoinThreshold()):
            return F.broadcast(dim)
        return dim

    @staticmethod
    def _checkpoint_small_rep(rep: DataFrame) -> DataFrame | None:
        """Materialize the rep table and return it when it provably fits a
        broadcast, else None.

        Two-stage gate so the exact check stays cheap where it matters:

        1. LOOSE static pre-gate: Catalyst's estimate for the narrow rep
           scales the full input's size, so it over-estimates the true rep
           size by orders of magnitude (ArrayType.defaultSize counts ONE
           element, so a payload-heavy input barely scales down: measured
           694 MB estimated vs 16 KB actual on the parent-dominant bench)
           — but it still grows linearly with the input. Anything beyond
           1024x the broadcast threshold (10 GB at the default 10 MB) is
           declared huge without running a job, which keeps this path from
           ever issuing a gate job on a 100 TB input (the fallback there
           is dropDuplicates; no wasted pass). The multiplier is a
           heuristic band: it exists only to skip pointless gate jobs on
           obviously-huge inputs; the EXACT count below decides. An
           unknown size (Connect, stat-less leaves) is treated as huge.
        2. EXACT eager count over a ``localCheckpoint(eager=True)`` of the
           rep: the checkpoint job IS the narrow hash agg (keys + one long
           — map-side combined), the count on the materialized partitions
           is then ~free, and the dim join reuses the SAME materialized
           rep instead of recomputing the agg at execution time (measured
           ~0.15s saved per pack at sf0.1). The byte bound uses a
           conservative 64-byte floor per var-length key so a string-keyed
           rep can't sneak under the threshold on an optimistic width
           guess.

        The checkpoint makes ``pack(parent_strategy="split_join")``
        partially EAGER (one gate job at plan-construction time) — same
        trade as the IVF coarse-quantizer training. localCheckpoint
        truncates lineage: an executor loss during the query fails it
        instead of recomputing — acceptable for a gate-passed (tiny) rep
        in batch jobs, same trade ``dedup_clusters`` makes.
        """
        est = plan_size_bytes(rep)
        if est is None:
            return None
        conf = rep.sparkSession._jsparkSession.sessionState().conf()
        threshold = int(conf.autoBroadcastJoinThreshold())
        if threshold <= 0 or est > 1024 * threshold:
            return None
        rep = rep.localCheckpoint(eager=True)
        n = rep.count()
        from pyspark.sql.types import (
            BinaryType,
            MapType,
            StringType,
        )

        row_bytes = 0
        for field in rep.schema.fields:
            if isinstance(field.dataType, (StringType, BinaryType)):
                row_bytes += 64  # conservative var-length floor
            elif isinstance(field.dataType, (ArrayType, MapType, StructType)):
                row_bytes += 256
            else:
                row_bytes += 8
        return rep if n * max(row_bytes, 16) <= threshold else None

    def _row_fingerprint(self, df: DataFrame) -> Column | None:
        """Deterministic per-row content fingerprint for representative
        selection: ``xxhash64`` over the id columns of every level present
        in the frame.

        The fingerprint must be (a) a pure function of row CONTENT — the
        rep and wide branches evaluate their expressions independently,
        and after a shuffle the within-partition row order (hence
        ``monotonically_increasing_id``) is not stable across evaluations;
        a row-id rep silently dropped roots on a join-built input — and
        (b) NARROW, so the rep agg never touches heavy attr columns
        (hashing the full row measured 1.9s vs 0.9s for the whole
        parent-dominant split_join at sf0.1). Level id columns are both:
        content-derived and ~unique per row at the leaf. Fingerprint ties
        are harmless — every survivor of the min-fp filter shares the
        (key, attrs-uniform) contract and a final tiny dropDuplicates
        keeps one row per root.

        Returns None when a chosen column (recursively) contains a
        MapType — xxhash64 rejects maps — routing split_join to the
        dropDuplicates fallback.
        """
        from pyspark.sql.types import DataType, MapType

        def has_map(dt: DataType) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(has_map(f.dataType) for f in dt.fields)
            return False

        columns = set(df.columns)
        cols: list[str] = []
        for meta in self._levels_meta:
            for c in meta.id_columns:
                if c in columns and c not in cols:
                    cols.append(c)
        if not cols:
            return None
        by_name = {f.name: f.dataType for f in df.schema.fields}
        if any(has_map(by_name[c]) for c in cols):
            return None
        return F.xxhash64(*[qcol(c) for c in cols])

    def _pack_split_join(
        self,
        frame: DataFrame,
        to_level: str,
        *,
        extra_columns: ExtraColumnsMode,
        skew_salt: int | None = None,
    ) -> DataFrame:
        """Pack with root attributes reattached via a dim-table join.

        Plan shape: ``dropDuplicates(root_keys)`` dim + left join after the
        pack. The dim side gets an explicit broadcast hint when Catalyst's
        size estimate is under ``spark.sql.autoBroadcastJoinThreshold``
        (see ``_maybe_broadcast``); otherwise the strategy is left to AQE,
        which re-plans on the dim's true post-dedup size at runtime — one
        row per root entity is NOT broadcastable in general at scale.

        The input is prepared ONCE and both branches (dim + structural)
        derive from the prepared frame; the structural branch enters the
        pack kernel through ``_pack_prepared`` directly.
        """
        df, added = self._prepare_frame(frame)
        root = self._levels_meta[0]
        root_keys = list(root.id_columns)
        attr_cols = self._root_attribute_columns(df.columns)

        if not root_keys or not attr_cols:
            # Nothing to factor out — explicit "aggregate" (not the
            # "auto" default, which could re-route here and recurse).
            return self.pack(
                frame,
                to_level,
                extra_columns=extra_columns,
                parent_strategy="aggregate",
                skew_salt=skew_salt,
            )

        dim = None
        fingerprint = self._row_fingerprint(df)
        if fingerprint is not None:
            # Fast path: dedup via a NARROW representative-row agg, not
            # dropDuplicates. `first(heavy_attr)` over array/struct attrs
            # forces sort-based aggregation, which converts and sorts every
            # input row's payload by key before reducing (measured: the
            # dropDuplicates dim costs 1.0s of the parent-dominant
            # split_join; this path's dim costs ~0.5s and the full pack
            # drops from ~1.5s to ~0.9s at sf0.1, ~0.47x of plain pack).
            # The representative is the row whose CONTENT fingerprint
            # (xxhash64 over every non-internal column) is minimal per
            # key — a pure hash agg over (keys, long) with map-side
            # combine. The fingerprint must be a function of row content,
            # NOT a row-id: the rep and wide branches evaluate their
            # expressions independently, and after a shuffle the
            # within-partition row order (hence monotonically_increasing_id)
            # is not stable across evaluations — a row-id rep silently
            # dropped roots on the join-built oracle frame. The payload is
            # then fetched by a BROADCAST of the one-row-per-key rep back
            # onto the input — a map-side filter, so heavy attrs never
            # sort and never shuffle. Broadcasting is gated by an exact
            # count (`_checkpoint_small_rep`), because Catalyst's static
            # estimate over-estimates the narrow rep by orders of
            # magnitude — without the explicit hint AQE only converts the
            # join AFTER concurrently launching the wide side's shuffle,
            # which re-shuffles the payload.
            rep_col = "__pns_rep_fp"
            fp_col = "__pns_row_fp"
            rep = df.groupBy(*[qcol(k) for k in root_keys]).agg(
                F.min(fingerprint).alias(rep_col)
            )
            small_rep = self._checkpoint_small_rep(rep)
            if small_rep is not None:
                dim = (
                    df.select(
                        *[qcol(c) for c in (*root_keys, *attr_cols)],
                        fingerprint.alias(fp_col),
                    )
                    .join(F.broadcast(small_rep), on=root_keys, how="inner")
                    .filter(qcol(fp_col) == qcol(rep_col))
                    .drop(fp_col, rep_col)
                    # Exact-duplicate full rows tie on the fingerprint;
                    # survivors per key are content-identical in
                    # (keys, attrs), so this final dedup runs over ~one
                    # row per root — tiny.
                    .dropDuplicates(root_keys)
                )
        if dim is None:
            # Scale fallback: one-row-per-root is NOT broadcastable in
            # general (1B roots at 100 TB); dropDuplicates keeps map-side
            # partial combine so the shuffle carries ~tasks x roots rows,
            # and AQE picks the join strategy from the dim's true
            # post-dedup size at runtime.
            dim = df.select(
                *[qcol(c) for c in (*root_keys, *attr_cols)]
            ).dropDuplicates(root_keys)
        dim = self._maybe_broadcast(dim)
        structural = df.drop(*attr_cols)
        packed = self._pack_prepared(
            structural,
            to_level,
            extra_columns=extra_columns,
            skew_salt=skew_salt,
            added_cols=added,
        )

        if to_level != root.name:
            # Root stays flat at the top → a plain row join reattaches it.
            result = packed.join(dim, on=root_keys, how="left")
        else:
            # Packing to root collapsed each entity into one struct column;
            # reattach attributes as struct fields.
            struct_col = root.path
            prefix_len = len(root.prefix)
            with_keys = packed
            for key in root_keys:
                with_keys = with_keys.withColumn(
                    key, qcol(struct_col)[key[prefix_len:]]
                )
            joined = with_keys.join(dim, on=root_keys, how="left")
            rebuilt = qcol(struct_col)
            for col in attr_cols:
                rebuilt = with_field(rebuilt, col[prefix_len:], qcol(col))
            result = joined.withColumn(struct_col, rebuilt).drop(
                *root_keys, *attr_cols
            )
        return result

    def unpack(self, frame: DataFrame, to_level: str) -> DataFrame:
        """Unpack nested columns root → ``to_level``: ``explode_outer`` each
        list level and unnest its struct with the path prefix."""
        df = frame
        for level in self._levels_meta:
            if level.path not in df.columns:
                continue
            df = self._explode_and_unnest(df, level)
            if level.name == to_level:
                break
        return self._drop_internal_columns(df)

    # ===== Streaming (out-of-core) parity wrappers =====

    def pack_streaming(
        self,
        source: DataFrame | str,
        to_level: str,
        *,
        partitions: int = 16,
        tmp_dir: str | None = None,
        defer: bool = True,
        extra_columns: ExtraColumnsMode = "preserve",
        bounded: bool = False,
        spark: SparkSession | None = None,
    ) -> DataFrame:
        """Memory-bounded pack — API parity with the reference ``:1103-1211``.

        The reference hash-buckets rows by root key, packs each bucket and
        sinks parquet to cap peak RSS (5.8× slower, 0.42× memory per
        BASELINE.md). Spark's shuffled aggregation already hash-partitions and
        spills, so the default is expressed as
        ``repartition(partitions, root_keys)`` + the normal pack (one job, no
        K-pass re-reads). ``defer=False`` reproduces the disk-to-disk mode
        with a parquet checkpoint. Its sink, and ``bounded=True``'s, is
        ``tmp_dir``, or else a new directory under the system temp dir
        that is deleted when the JVM exits.

        Child-order caveat for PATH sources: a parquet directory has no
        defined row order (equal-size files pack into scan partitions in
        nondeterministic order), so the best-effort input order that
        ``preserve_child_order`` pins for DataFrame inputs is undefined
        from a path — use ``LevelSpec.order_by`` for contractual child
        order, exactly as the reference documents for its scan mode.

        ``bounded=True`` reproduces the reference's memory shape literally:
        ``partitions`` SEQUENTIAL per-bucket pack jobs appending to the sink,
        each packing ``source.filter(pmod(xxhash64(root_keys), K) == i)``
        (the reference's K re-reads). A source that would not re-evaluate
        to the same rows (a nondeterministic expression, a limit or offset)
        is instead staged once, hash-partitioned by bucket
        (``partitionBy(__bucket)``), and each bucket reads its directory;
        the staging copy is deleted when the loop ends. Peak state is one
        bucket's aggregation + scan buffers, regardless of total input size
        — the trade the reference documents as 5.8× time for 0.42× RSS. On
        a real cluster the default mode's executor-spill already bounds
        memory per task; ``bounded`` exists for environments
        where the whole job shares one memory budget (local mode, one
        executor, or a sink that must never hold two buckets at once).
        """
        if bounded:
            return self._pack_streaming_bounded(
                source,
                to_level,
                partitions=partitions,
                tmp_dir=tmp_dir,
                extra_columns=extra_columns,
                spark=spark,
            )
        df = self._resolve_source(source, spark)
        # Materialize key aliases / computed id fields BEFORE picking the
        # repartition keys, so alias-only inputs partition on the resolved
        # columns instead of falling into an opaque AnalysisException.
        df, _ = self._ensure_key_columns(df)
        df = self._ensure_computed_fields(df)
        root_keys = [
            k for k in self._levels_meta[0].id_columns if k in df.columns
        ]
        if not root_keys:
            missing = ", ".join(self._levels_meta[0].id_columns)
            raise HierarchyValidationError(
                f"pack_streaming: none of the root level "
                f"'{self._levels_meta[0].name}' key columns [{missing}] are "
                f"present in the input (columns: {sorted(df.columns)[:20]})"
            )
        # Pin the best-effort row id BEFORE the shuffle: shuffle-fetch order
        # is nondeterministic, so assigning it after repartition would make
        # unordered child lists flap run-to-run.
        df = self._with_row_id(df)
        df = df.repartition(partitions, *[qcol(k) for k in root_keys])
        packed = self.pack(df, to_level, extra_columns=extra_columns)
        if defer:
            return packed
        target = tmp_dir or scratch_dir(packed.sparkSession, "pns_pack")
        packed.write.mode("overwrite").parquet(target)
        return packed.sparkSession.read.parquet(target)

    def _pack_streaming_bounded(
        self,
        source: DataFrame | str,
        to_level: str,
        *,
        partitions: int,
        tmp_dir: str | None,
        extra_columns: ExtraColumnsMode,
        spark: SparkSession | None,
    ) -> DataFrame:
        """K sequential per-bucket pack jobs — the reference's RSS shape
        (``:1103-1211``): pack one root-key hash bucket at a time, append
        each to the sink, stream the result from disk. Peak memory is one
        bucket, at the cost of K job launches.

        A source that re-evaluates to the same rows is re-read per bucket
        (``filter(bucket == i)``, the reference's K re-reads). Any other
        source — a nondeterministic expression, or a limit/offset whose rows
        depend on arrival order — is evaluated once into a hash-partitioned
        staging copy that each bucket reads back, and the copy is deleted
        once the loop ends.

        After each bucket a full GC returns the freed heap to the OS, so
        the RSS watermark follows one bucket's working set: in fresh
        processes (sf0.1 ``bench.py --rss-probe``) this loop peaked at
        886-942 MB with the GC, 1,160-1,368 MB without it, and the one-shot
        ``pack`` at 1,344-1,571 MB. G1 never uncommits below
        ``MinHeapSize``, so the GC runs only while the committed heap is
        above it (always, when ``MinHeapSize`` cannot be read); under a
        pinned heap (``-Xms`` == ``-Xmx``) it is skipped."""
        if partitions < 1:
            raise ValueError("partitions must be >= 1")
        df = self._resolve_source(source, spark)
        df, _ = self._ensure_key_columns(df)
        df = self._ensure_computed_fields(df)
        root_keys = [
            k for k in self._levels_meta[0].id_columns if k in df.columns
        ]
        if not root_keys:
            missing = ", ".join(self._levels_meta[0].id_columns)
            raise HierarchyValidationError(
                f"pack_streaming(bounded): none of the root level "
                f"'{self._levels_meta[0].name}' key columns [{missing}] are "
                f"present in the input"
            )
        session = df.sparkSession
        base = tmp_dir or scratch_dir(session, "pns_bounded")
        target = os.path.join(base, "packed")
        bucket = F.pmod(F.xxhash64(*[qcol(k) for k in root_keys]), F.lit(partitions))

        stage = None
        if self._reproducible(df):
            # Each bucket's rows are a filter of the source; pack() pins the
            # row id on the filtered rows, which keeps their relative order.
            buckets = [df.filter(bucket == i) for i in range(partitions)]
        else:
            # Pin the best-effort row id before the staging write (same
            # nondeterministic-fetch-order hazard as the default mode); it
            # persists through the stage parquet and pack() reuses it.
            staged = self._with_row_id(df).withColumn("__bucket", bucket)
            stage = os.path.join(base, "stage")
            # Hive-partition by bucket so each per-bucket job reads ONLY its
            # directory. Repartition ON the bucket first so every task
            # writes exactly one bucket file — without it, dynamic
            # partitioning holds an open parquet writer per (task × bucket),
            # whose row-group buffers defeat the memory bounding this mode
            # exists for.
            (
                staged.repartition(partitions, F.col("__bucket"))
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(stage)
            )
            # One read of the stage, through the Hadoop FileSystem (any
            # scheme); the partition filter prunes each bucket's job to its
            # own directory. The known schema lets an all-empty stage (no
            # bucket directories) read as empty instead of failing schema
            # inference.
            staged = session.read.schema(staged.schema).parquet(stage)
            buckets = [
                staged.filter(F.col("__bucket") == i).drop("__bucket")
                for i in range(partitions)
            ]

        min_heap = _min_heap_bytes(session)
        try:
            for i, part in enumerate(buckets):
                packed = self.pack(part, to_level, extra_columns=extra_columns)
                packed.write.mode("append" if i else "overwrite").parquet(target)
                # Full GC between buckets, only when it can return heap to
                # the OS: G1 (the JDK 17 default) uncommits on full
                # collections, but never below MinHeapSize. Under an
                # unpinned heap this keeps the RSS watermark near ONE
                # bucket's working set (numbers in the docstring); under a
                # pinned heap it would return nothing for a 70-108 ms pause.
                if _heap_can_shrink(session, min_heap):
                    try:
                        session.sparkContext._jvm.System.gc()
                    except Exception:  # noqa: BLE001 — Connect: no JVM handle
                        pass
        finally:
            if stage is not None:
                _delete_path(session, stage)
        return session.read.parquet(target)

    @staticmethod
    def _reproducible(df: DataFrame) -> bool:
        """Whether re-evaluating ``df`` yields the same rows: its analyzed
        plan is deterministic and selects no rows by position (a limit or
        offset over unordered input picks different rows per run)."""
        try:
            plan = df._jdf.queryExecution().analyzed()
            jvm = df.sparkSession._jvm
            patterns = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
            return bool(
                plan.deterministic()
                and not plan.containsPattern(patterns.LIMIT())
                and not plan.containsPattern(patterns.OFFSET())
            )
        except Exception:  # noqa: BLE001 — Connect: no JVM plan handle
            return False

    def unpack_streaming(
        self,
        source: DataFrame | str,
        to_level: str,
        *,
        sink_path: str | None = None,
        spark: SparkSession | None = None,
    ) -> DataFrame:
        """Unpack with optional parquet sink + re-scan (disk-to-disk mode)."""
        df = self._resolve_source(source, spark)
        result = self.unpack(df, to_level)
        if sink_path is None:
            return result
        result.write.mode("overwrite").parquet(sink_path)
        return result.sparkSession.read.parquet(sink_path)

    @staticmethod
    def _resolve_source(
        source: DataFrame | str, spark: SparkSession | None
    ) -> DataFrame:
        if isinstance(source, DataFrame):
            return source
        session = spark or SparkSession.getActiveSession()
        if session is None:
            raise ValueError("A SparkSession is required to read a path source.")
        return session.read.parquet(str(source))

    # ===== Relational bridge =====

    def split_levels(self, frame: DataFrame) -> dict[str, DataFrame]:
        """Split a packed frame into one standalone table per level.

        Per level: unpack to it, drop finer-level columns, and drop rows that
        exist only as null placeholders (null ancestor keys of the next level,
        or null required fields at the leaf).
        """
        df, added_cols = self._prepare_frame(frame)
        outputs: dict[str, DataFrame] = {}
        current = df

        below = self._levels_meta[1:] + [None]
        for level, finer in zip(self._levels_meta, below):
            if level.path not in current.columns:
                continue

            unpacked = self.unpack(current, level.name)
            output_table = unpacked
            if finer is not None:
                # This level's table must not carry the next level's
                # columns — they belong to that level's own table.
                owned_by_finer = [
                    c
                    for c in output_table.columns
                    if c.startswith(finer.prefix) or c == finer.path
                ]
                if owned_by_finer:
                    output_table = output_table.drop(*owned_by_finer)
                subset = [
                    c for c in finer.ancestor_keys if c in output_table.columns
                ]
                output_table = self._drop_nulls(output_table, subset)
            elif level.required_columns:
                subset = [
                    c for c in level.required_columns if c in output_table.columns
                ]
                output_table = self._drop_nulls(output_table, subset)

            if added_cols:
                drop_candidates = [c for c in added_cols if c in output_table.columns]
                if drop_candidates:
                    output_table = output_table.drop(*drop_candidates)

            outputs[level.name] = self._drop_internal_columns(output_table)
            current = unpacked
        return outputs

    @staticmethod
    def _drop_nulls(df: DataFrame, subset: Sequence[str]) -> DataFrame:
        """Drop rows where ANY subset column is null (dotted-name safe)."""
        if not subset:
            return df
        cond = qcol(subset[0]).isNotNull()
        for c in subset[1:]:
            cond = cond & qcol(c).isNotNull()
        return df.filter(cond)

    def normalize(
        self, frame: DataFrame, *, root_level: str | None = None
    ) -> dict[str, DataFrame]:
        """Pack to the root level, then split into normalized per-level tables."""
        target = root_level or self._levels_meta[0].name
        return self.split_levels(self.pack(frame, target))

    def _missing_table(self, name: str, tables: Mapping, kind: str = "level"):
        """Uniform missing-entry error for the table-mapping APIs."""
        return HierarchyValidationError(
            f"Missing table for {kind} '{name}'.",
            level=name,
            details={"provided_levels": list(tables.keys())},
        )

    def denormalize(
        self,
        tables: Mapping[str, DataFrame],
        *,
        target_level: str | None = None,
    ) -> DataFrame:
        """Reconstruct nested columns from per-level tables (inverse of
        :meth:`normalize`): deepest → root, pack each child table one level
        and left-join its struct column onto the parent on ancestor keys."""
        if not tables:
            raise HierarchyValidationError(
                "Expected at least one table to denormalize.",
                details={"tables_provided": 0},
            )
        top = self._levels_meta[0].name
        if top not in tables:
            raise HierarchyValidationError(
                f"Missing root level '{top}' in table mapping.",
                level=top,
                details={"provided_levels": list(tables.keys())},
            )
        goal = self.spec.index_of(target_level) if target_level else 0
        goal_name = self._levels_meta[goal].name

        prepared: dict[str, DataFrame] = {}
        alias_map: dict[str, tuple[str, ...]] = {}
        for name, table in tables.items():
            prepared[name], alias_map[name] = self._prepare_frame(table)

        for level_idx in reversed(range(1, len(self._levels_meta))):
            level = self._levels_meta[level_idx]
            parent_meta = self._levels_meta[level_idx - 1]

            child_df = prepared.get(level.name)
            if child_df is None:
                # Levels at or above the target must all be present;
                # finer ones may simply be absent from this mapping.
                if level_idx <= goal:
                    raise self._missing_table(level.name, tables)
                continue

            parent_df = prepared.get(parent_meta.name)
            if parent_df is None:
                raise self._missing_table(
                    parent_meta.name, tables, kind="parent level"
                )

            child_packed = self._pack_single_level(child_df, level_idx, validate=False)
            join_keys = list(level.ancestor_keys)
            child_struct_frame = child_packed.select(
                *[qcol(k) for k in join_keys], qcol(level.path)
            )
            child_added = alias_map.get(level.name, ())
            if child_added:
                child_packed = child_packed.drop(*child_added)
                child_struct_frame = child_struct_frame.drop(*child_added)

            prepared[level.name] = child_packed
            prepared[parent_meta.name] = parent_df.join(
                child_struct_frame, on=join_keys, how="left"
            )

        result = prepared.get(goal_name)
        if result is None:
            raise HierarchyValidationError(
                f"Missing table for level '{goal_name}'.", level=goal_name
            )
        if alias_map.get(goal_name):
            result = result.drop(*alias_map[goal_name])
        return self._drop_internal_columns(result)

    def build_from_tables(
        self,
        tables: Mapping[str, DataFrame],
        *,
        target_level: str | None = None,
        join_type: Literal["left", "inner"] = "left",
    ) -> DataFrame:
        """Build the nested hierarchy from raw relational tables.

        Each table has its own column names plus FK ``parent_keys``; tables
        are prefix-renamed, joined leaf → root on
        ``parent.id_columns == child's prefixed parent_keys`` (equi-join —
        AQE picks broadcast vs sort-merge), FK duplicates dropped, then packed
        to ``target_level``. ``"left"`` drops orphan children and keeps
        childless parents with null child structs.
        """
        if not tables:
            raise HierarchyValidationError(
                "Expected at least one table to build from.",
                details={"tables_provided": 0},
            )
        goal = self.spec.index_of(target_level) if target_level else 0
        target_name = self._levels_meta[goal].name
        target_idx = goal
        # Everything at or above the target must be supplied.
        for meta in self._levels_meta[: goal + 1]:
            if meta.name not in tables:
                raise self._missing_table(meta.name, tables)

        prepared: dict[str, DataFrame] = {}
        for level_idx, meta in enumerate(self._levels_meta):
            if meta.name not in tables:
                continue
            prepared[meta.name] = self._prepare_level_table_internal(
                tables[meta.name], level_idx
            )

        for level_idx in reversed(range(1, len(self._levels_meta))):
            level = self._levels_meta[level_idx]
            level_spec = self.spec.levels[level_idx]
            if level.name not in prepared:
                continue
            parent_meta = self._levels_meta[level_idx - 1]
            if parent_meta.name not in prepared:
                continue

            child_df = prepared[level.name]
            parent_df = prepared[parent_meta.name]

            parent_keys = level_spec.parent_keys
            if not parent_keys:
                raise HierarchyValidationError(
                    f"Level '{level.name}' must have parent_keys defined for "
                    "build_from_tables.",
                    level=level.name,
                )

            parent_id_cols = list(parent_meta.id_columns)
            if len(parent_keys) != len(parent_id_cols):
                raise HierarchyValidationError(
                    f"parent_keys arity mismatch at level '{level.name}': "
                    f"{len(parent_keys)} parent_keys vs "
                    f"{len(parent_id_cols)} id_fields on parent "
                    f"'{parent_meta.name}'.",
                    level=level.name,
                    details={
                        "parent_keys": list(parent_keys),
                        "parent_id_columns": parent_id_cols,
                    },
                )

            qualified_parent_keys = [f"{level.prefix}{pk}" for pk in parent_keys]
            cond = None
            for a, b in zip(parent_id_cols, qualified_parent_keys):
                clause = qcol(a) == qcol(b)
                cond = clause if cond is None else (cond & clause)
            joined = parent_df.join(child_df, on=cond, how=join_type).drop(
                *qualified_parent_keys
            )
            prepared[parent_meta.name] = joined

        result = prepared[self._levels_meta[0].name]
        return self.pack(result, target_name)

    def prepare_level_table(
        self,
        level_name: str,
        data: DataFrame,
        column_mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """Rename raw columns via ``column_mapping`` then add the level prefix."""
        level_idx = self.spec.index_of(level_name)
        df = data
        if column_mapping:
            exprs = []
            for col in df.columns:
                if col in column_mapping:
                    exprs.append(qcol(col).alias(column_mapping[col]))
                else:
                    exprs.append(qcol(col))
            df = df.select(*exprs)
        return self._prepare_level_table_internal(df, level_idx)

    def _prepare_level_table_internal(self, df: DataFrame, level_idx: int) -> DataFrame:
        """Prefix every column (FK parent_keys included) with the level path."""
        meta = self._levels_meta[level_idx]
        return df.select(
            *[qcol(c).alias(f"{meta.prefix}{c}") for c in df.columns]
        )

    # ===== Internal: frame preparation =====

    def _prepare_frame(self, frame: DataFrame) -> tuple[DataFrame, tuple[str, ...]]:
        """Materialize key aliases, the best-effort row id, and computed fields."""
        df, added = self._ensure_key_columns(frame)
        if self.preserve_child_order:
            df = self._with_row_id(df)
        df = self._ensure_computed_fields(df)
        return df, tuple(added)

    def _with_row_id(self, df: DataFrame) -> DataFrame:
        if not self.preserve_child_order or ROW_ID_COLUMN in df.columns:
            return df
        # Partition-ordered, non-contiguous — best-effort input order only
        # (contractual child order requires LevelSpec.order_by; SURVEY §7.3).
        return df.withColumn(ROW_ID_COLUMN, F.monotonically_increasing_id())

    def _ensure_key_columns(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        added: list[str] = []
        columns = set(df.columns)
        for target, source in self.spec.key_aliases.items():
            if target in columns or source not in columns:
                continue
            df = df.withColumn(target, qcol(source))
            added.append(target)
        return df, added

    def _ensure_computed_fields(self, df: DataFrame) -> DataFrame:
        if not self._computed_exprs:
            return df
        columns = set(df.columns)
        missing = {
            alias: expr
            for alias, expr in self._computed_exprs.items()
            if alias not in columns
        }
        if missing:
            df = df.withColumns(missing)
        return df

    def _collect_computed_exprs(self) -> dict[str, Column]:
        from polars_nexpresso_spark.plans.spec import column_alias

        exprs: dict[str, Column] = {}
        for meta in self._levels_meta:
            for expression in (*meta.id_exprs, *meta.required_exprs):
                alias = column_alias(expression)
                if alias:
                    exprs[alias] = expression
        return exprs

    def _drop_internal_columns(self, df: DataFrame) -> DataFrame:
        if self.preserve_child_order and ROW_ID_COLUMN in df.columns:
            df = df.drop(ROW_ID_COLUMN)
        return df

    def _identify_extra_columns(self, columns: Sequence[str]) -> list[str]:
        """Columns not belonging to any hierarchy level (or aliases/internal)."""
        extra: list[str] = []
        root_prefix = f"{self._levels_meta[0].name}{self.separator}"
        hierarchy_prefixes = [m.prefix for m in self._levels_meta if m.prefix]
        hierarchy_paths = {m.path for m in self._levels_meta}
        key_alias_targets = set(self.spec.key_aliases.keys())

        for col in columns:
            if col == ROW_ID_COLUMN:
                continue
            if col in hierarchy_paths or col in key_alias_targets:
                continue
            if any(col.startswith(p) for p in hierarchy_prefixes):
                continue
            if not col.startswith(root_prefix) and col != self._levels_meta[0].name:
                extra.append(col)
        return extra

    def _qualify_field(self, level_idx: int, field: str) -> str:
        """Qualify a field name with the level path prefix (idempotent)."""
        if len(self._split_path(field)) > 1:
            return field
        # build_metadata already computed the escaped prefix for this level.
        prefix = self._levels_meta[level_idx].prefix
        return prefix + self._escape_field(field)

    # ===== Internal: the pack kernel =====

    def _pack_single_level(
        self,
        df: DataFrame,
        level_idx: int,
        *,
        validate: bool = False,
        salt: int | None = None,
    ) -> DataFrame:
        """Fold one level's columns into a struct and group by ancestor keys.

        The heart of the engine (reference ``:2614-2698``):

        1. Fold all ``prefix``-matched columns into one struct column named by
           the level path, fields short-named.
        2. ``groupBy(ancestor_keys)``: child structs collect into a list
           (sorted in-agg by order_by temp columns and/or the row id via a
           key-only comparator); every other column collapses with
           ``first(ignorenulls=True)``; the min child row-id is carried upward
           so coarser levels keep nested order without a global sort.

        The root level (no ancestor keys) is folded but NOT grouped.
        """
        if self.preserve_child_order:
            df = self._with_row_id(df)

        meta = self._levels_meta[level_idx]
        level_cols = [
            c for c in df.columns if meta.prefix and c.startswith(meta.prefix)
        ]
        if not level_cols:
            return df

        group_keys = list(meta.ancestor_keys)

        order_temp_cols: list[str] = []
        if meta.order_by and group_keys:
            order_exprs = {}
            for i, expr in enumerate(meta.order_by):
                name = f"{ORDER_TEMP_COLUMN_PREFIX}{i}"
                # Plain strings are qualified column names, resolved lazily so
                # specs can be declared before any SparkSession exists.
                order_exprs[name] = qcol(expr) if isinstance(expr, str) else expr
                order_temp_cols.append(name)
            df = df.withColumns(order_exprs)

        struct_expr = F.struct(
            *[qcol(c).alias(c[len(meta.prefix) :]) for c in level_cols]
        ).alias(meta.path)
        keep = [c for c in df.columns if c not in set(level_cols)]
        df = df.select(*[qcol(c) for c in keep], struct_expr)

        if not group_keys:
            return df

        has_row_id = ROW_ID_COLUMN in df.columns
        excluded = set(group_keys) | {meta.path} | set(order_temp_cols)
        if has_row_id:
            excluded.add(ROW_ID_COLUMN)
        remaining_cols = [c for c in df.columns if c not in excluded]

        if validate and remaining_cols:
            self._validate_aggregation_uniformity(
                df, group_keys, remaining_cols, meta.name
            )

        sort_by_cols = [*order_temp_cols]
        if self.preserve_child_order and has_row_id:
            sort_by_cols.append(ROW_ID_COLUMN)

        if sort_by_cols:
            # Wrap (sort keys, payload) into a struct; sorting happens after
            # collection (nulls first) and the payload is projected back out.
            collected = key_wrapper([qcol(c) for c in sort_by_cols], qcol(meta.path))
            types = {f.name: f.dataType for f in df.schema.fields}
            wrapper_orderable = orderable(
                *[types[c] for c in (*sort_by_cols, meta.path)]
            )

            def finalize(arr: Column) -> Column:
                return sort_by_keys(arr, len(sort_by_cols), wrapper_orderable)

        else:
            collected = qcol(meta.path)

            def finalize(arr: Column) -> Column:
                return arr

        if salt and salt > 1:
            # Two-phase skew-spread fold: phase A groups on (keys, salt) so a
            # giant parent's children split across `salt` reducers; phase B
            # merges the chunks per key and re-establishes child order on the
            # flattened whole (chunk ranges overlap, so sort must be global
            # per group — never a chunk-concat order).
            salt_col = "__hier_salt"
            dfa = df.withColumn(
                salt_col,
                F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)),
            )
            agg_a = [
                F.first(qcol(c), ignorenulls=True).alias(c) for c in remaining_cols
            ]
            agg_a.append(F.collect_list(collected).alias("__hier_chunk"))
            if self.preserve_child_order and has_row_id:
                agg_a.append(F.min(qcol(ROW_ID_COLUMN)).alias(ROW_ID_COLUMN))
            partial = dfa.groupBy(
                *[qcol(k) for k in group_keys], F.col(salt_col)
            ).agg(*agg_a)

            agg_b = [
                F.first(qcol(c), ignorenulls=True).alias(c) for c in remaining_cols
            ]
            agg_b.append(
                finalize(F.flatten(F.collect_list(F.col("__hier_chunk")))).alias(
                    meta.path
                )
            )
            if self.preserve_child_order and has_row_id:
                agg_b.append(F.min(qcol(ROW_ID_COLUMN)).alias(ROW_ID_COLUMN))
            return partial.groupBy(*[qcol(k) for k in group_keys]).agg(*agg_b)

        agg_exprs = [
            F.first(qcol(c), ignorenulls=True).alias(c) for c in remaining_cols
        ]
        agg_exprs.append(finalize(F.collect_list(collected)).alias(meta.path))
        if self.preserve_child_order and has_row_id:
            agg_exprs.append(F.min(qcol(ROW_ID_COLUMN)).alias(ROW_ID_COLUMN))

        return df.groupBy(*[qcol(k) for k in group_keys]).agg(*agg_exprs)

    def _validate_aggregation_uniformity(
        self,
        df: DataFrame,
        group_keys: list[str],
        value_cols: list[str],
        level_name: str,
    ) -> None:
        """Raise if any carried column has >1 distinct non-null value per group.

        One aggregation pass for all columns; ``countDistinct`` ignores nulls,
        exactly matching the reference's ``drop_nulls().n_unique()``.
        """
        agg_exprs = [
            F.countDistinct(qcol(c)).alias(f"__nuniq_{i}")
            for i, c in enumerate(value_cols)
        ]
        grouped = df.groupBy(*[qcol(k) for k in group_keys]).agg(*agg_exprs)
        bad_counts = grouped.agg(
            *[
                F.sum((F.col(f"__nuniq_{i}") > 1).cast("long")).alias(f"__bad_{i}")
                for i in range(len(value_cols))
            ]
        ).collect()[0]
        for i, col in enumerate(value_cols):
            non_uniform = bad_counts[f"__bad_{i}"] or 0
            if non_uniform > 0:
                raise HierarchyValidationError(
                    f"Column '{col}' has non-uniform values within groups. "
                    f"Found {non_uniform} groups with differing values. "
                    "Values at coarser granularity should be identical within "
                    "each group.",
                    level=level_name,
                    details={
                        "column": col,
                        "non_uniform_groups": non_uniform,
                        "group_keys": group_keys,
                    },
                )

    def _explode_and_unnest(self, df: DataFrame, meta: LevelMetadata) -> DataFrame:
        """Explode a level's list column (if a list) and unnest its struct
        fields back to prefixed top-level columns."""
        schema = {f.name: f.dataType for f in df.schema.fields}
        dtype = schema[meta.path]
        if isinstance(dtype, ArrayType):
            df = df.withColumn(meta.path, F.explode_outer(qcol(meta.path)))
            struct_type = dtype.elementType
        else:
            struct_type = dtype
        if not isinstance(struct_type, StructType):
            raise ValueError(
                f"Column '{meta.path}' is not a struct/array<struct>; got "
                f"{dtype.simpleString()}."
            )
        others = [c for c in df.columns if c != meta.path]
        prefixed = [
            qcol(meta.path)[f.name].alias(f"{meta.prefix}{f.name}")
            for f in struct_type.fields
        ]
        return df.select(*[qcol(c) for c in others], *prefixed)
