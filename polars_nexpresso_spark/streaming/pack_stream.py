"""Structured Streaming pack — event-time windowed list-of-struct folding.

A deliberate extension beyond the reference (which has no event-time
streaming operators — SURVEY §1.1): the pack kernel's shape
(``groupBy(keys).agg(sorted collect_list(struct), first ignorenulls)``)
maps directly onto a watermarked streaming aggregation, giving "pack the
last window of events per entity" semantics on an unbounded stream.

Scale notes: state per (window, keys) group is bounded by the watermark —
closed windows are emitted (append mode) and their state dropped. The
child-list sort happens at emission inside the aggregation buffer, so no
global ordering is ever required — the same no-pipeline-breaker design as
the batch kernel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_nexpresso_spark.columns import qcol
from polars_nexpresso_spark.operators.packer import key_wrapper, orderable, sort_by_keys


def _child_list(
    df: DataFrame, payload_cols: Sequence[str], order_by: Sequence[str]
) -> Column:
    """``collect_list`` of the payload structs, sorted by ``order_by`` with
    the packer's child-list sort when one is given."""
    payload = F.struct(*[qcol(c).alias(c) for c in payload_cols])
    if not order_by:
        return F.collect_list(payload)
    wrapper = key_wrapper([qcol(c) for c in order_by], payload)
    is_orderable = orderable(df.select(wrapper).schema[0].dataType)
    return sort_by_keys(F.collect_list(wrapper), len(order_by), is_orderable)


def windowed_pack(
    stream: DataFrame,
    *,
    event_time: str,
    window_duration: str,
    watermark: str,
    keys: Sequence[str],
    payload_cols: Sequence[str],
    order_by: Sequence[str] = (),
    child_name: str = "events",
) -> DataFrame:
    """Pack events into per-(window, keys) list-of-struct rows on a stream.

    Args:
        stream: A streaming (or batch — the plan is identical) DataFrame.
        event_time: Event-time timestamp column.
        window_duration: Tumbling window size (e.g. ``"1 hour"``).
        watermark: Late-data bound (e.g. ``"10 minutes"``); on a batch frame
            the watermark is a no-op.
        keys: Entity key columns grouped alongside the window.
        payload_cols: Columns folded into the child struct.
        order_by: Columns ordering children inside each list (event-time
            order typically); ties are ordered by payload, and an empty
            ``order_by`` keeps arrival order (nondeterministic).
        child_name: Name of the output list-of-struct column.

    Returns one row per closed (window, keys) group with ``window_start``,
    ``window_end``, the keys, ``{child_name}`` (sorted list of structs) and
    ``n_{child_name}``.
    """
    df = stream
    if df.isStreaming:
        df = df.withWatermark(event_time, watermark)

    child_list = _child_list(df, payload_cols, order_by)

    agg = df.groupBy(
        F.window(qcol(event_time), window_duration).alias("__w"),
        *[qcol(k) for k in keys],
    ).agg(
        child_list.alias(child_name),
        F.count(F.lit(1)).alias(f"n_{child_name}"),
    )
    return agg.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *[qcol(k) for k in keys],
        F.col(child_name),
        F.col(f"n_{child_name}"),
    )


def session_pack(
    stream: DataFrame,
    *,
    event_time: str,
    gap: str,
    watermark: str,
    keys: Sequence[str],
    payload_cols: Sequence[str],
    order_by: Sequence[str] = (),
    child_name: str = "events",
) -> DataFrame:
    """Pack events into gap-separated sessions per entity.

    Built on Spark's native ``session_window`` (merging state handled by the
    engine — no custom stateful operator needed): consecutive events of the
    same keys belong to one session while each gap to the previous event is
    strictly less than ``gap``; a gap ≥ ``gap`` starts a new session. Works
    identically on batch and streaming frames; on a stream, session state is
    bounded by the watermark and closed sessions emit in append mode.

    Requires PySpark >= 3.2 (``session_window``); see ``compat.py``.

    Returns one row per (keys, session) with ``session_start`` /
    ``session_end`` (end = last event + gap), the sorted child list, and
    ``n_{child_name}``.
    """
    from polars_nexpresso_spark.compat import HAS_SESSION_WINDOW, require

    require("session_pack (session_window)", HAS_SESSION_WINDOW, "3.2")
    df = stream
    if df.isStreaming:
        df = df.withWatermark(event_time, watermark)

    child_list = _child_list(df, payload_cols, order_by)

    agg = df.groupBy(
        F.session_window(qcol(event_time), gap).alias("__w"),
        *[qcol(k) for k in keys],
    ).agg(
        child_list.alias(child_name),
        F.count(F.lit(1)).alias(f"n_{child_name}"),
    )
    return agg.select(
        F.col("__w.start").alias("session_start"),
        F.col("__w.end").alias("session_end"),
        *[qcol(k) for k in keys],
        F.col(child_name),
        F.col(f"n_{child_name}"),
    )


def unpack_stream(packed: DataFrame, child_name: str = "events") -> DataFrame:
    """Inverse: explode a windowed-pack result back to one row per event."""
    exploded = packed.withColumn(child_name, F.explode_outer(F.col(child_name)))
    struct_type = {f.name: f.dataType for f in exploded.schema.fields}[child_name]
    fields = [
        F.col(child_name)[f.name].alias(f.name) for f in struct_type.fields
    ]
    others = [c for c in packed.columns if c not in (child_name, f"n_{child_name}")]
    return exploded.select(*[F.col(c) for c in others], *fields)
