"""Stream-stream and stream-static joins.

Completes the streaming surface: watermarked stream-stream inner
joins with a bounded time condition (Spark buffers each side in the
state store only within the watermark + interval bounds), and
stream-static enrichment joins (the static side is re-read per
micro-batch; broadcast when small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

from ..timestamps import ensure_event_time

__all__ = ["stream_stream_join", "stream_stream_join_outer",
           "stream_stream_join_full", "stream_stream_join_right",
           "stream_static_join"]


def _interval_join(left, right, key, left_ts, right_ts, max_delay,
                   watermark, suffixes, how) -> SparkDF:
    """The body every stream-stream join shares: watermark both sides,
    suffix the overlapping columns, join on ``key`` where the right
    event occurs within ``[left_ts - max_delay, left_ts]``.

    The right key is renamed, never dropped post-join by reference:
    when both sides derive from ONE frame (a filtered self-replay),
    ``lw[key]`` and ``rw[key]`` resolve to one attribute id and
    ``drop(rw[key])`` removes the LEFT copy — the output schema then
    depends on lineage, and an outer join's unmatched rows lose their
    key. A rename is unambiguous. The right and full joins coalesce
    the key (it is null on exactly one side of an unmatched row)."""
    lw = ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
    rw = ensure_event_time(right, right_ts).withWatermark(right_ts,
                                                          watermark)
    overlap = (set(lw.columns) & set(rw.columns)) - {key}
    rkey = key + "__cps_r"
    lw = lw.withColumnsRenamed({c: c + suffixes[0] for c in overlap})
    rw = rw.withColumnsRenamed({c: c + suffixes[1] for c in overlap}
                               | {key: rkey})
    lts = left_ts + suffixes[0] if left_ts in overlap else left_ts
    rts = right_ts + suffixes[1] if right_ts in overlap else right_ts
    # the equality predicate must reference live columns on BOTH join
    # inputs (Spark requires an equality for stream-stream state keying)
    cond = (
        (lw[key] == rw[rkey])
        & (F.col(rts) <= F.col(lts))
        & (F.col(rts) >= F.col(lts) - F.expr(f"INTERVAL {max_delay}"))
    )
    joined = lw.join(rw, on=cond, how=how)
    if how in ("fullOuter", "rightOuter"):
        joined = joined.withColumn(key, F.coalesce(F.col(key),
                                                   F.col(rkey)))
    return joined.drop(rkey)


def stream_stream_join(
    left: SparkDF,
    right: SparkDF,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> SparkDF:
    """Inner join two event streams on ``key`` where the right event
    occurs within ``[left_ts - max_delay, left_ts]``.

    Both sides are watermarked so Spark can expire buffered state —
    without the time condition a stream-stream join would buffer
    forever. Columns are suffixed like the engine's batch merge
    (reference ``_l``/``_r`` convention, src/partition.cpp:1099-1102).
    The output carries ONE ``key`` column, in the left side's position.
    """
    return _interval_join(left, right, key, left_ts, right_ts, max_delay,
                          watermark, suffixes, "inner")


def stream_stream_join_outer(
    left: SparkDF,
    right: SparkDF,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> SparkDF:
    """LEFT OUTER stream-stream join — :func:`stream_stream_join`'s
    condition, plus null-padded rows for left events that never see a
    match. The outer rows cannot emit eagerly (a match may still
    arrive): Spark holds each left row in state until the watermark
    passes ``left_ts + max_delay``, then emits it with nulls. That is
    why ``watermark`` here defaults TIGHT (1 h), not effectively
    unbounded like the inner variant's replay contract — an unbounded
    watermark never passes anything, so unmatched rows would be
    buffered forever and the outer half of the join would be silent.
    Replays must instead advance the watermark past the data with
    far-future sentinel batches on BOTH streams (the min of the
    per-source watermarks is what gates emission)."""
    return _interval_join(left, right, key, left_ts, right_ts, max_delay,
                          watermark, suffixes, "leftOuter")


def stream_stream_join_full(
    left: SparkDF,
    right: SparkDF,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> SparkDF:
    """FULL OUTER stream-stream join — BOTH-side watermark-gated null
    emission on top of :func:`stream_stream_join`'s interval
    condition. A left row with no match emits null-padded once the
    watermark passes its own timestamp (no right event at
    ``rts <= lts`` can still arrive); a right row with no match emits
    once the watermark passes ``rts + max_delay`` (no left event with
    ``lts in [rts, rts + max_delay]`` can still arrive) — Spark
    derives both state-expiry horizons from the time condition.

    The output carries ONE ``key`` column: the left side's for
    matched and left-only rows, the right side's for right-only rows
    (coalesced — a full join's key is null on exactly one side of
    every unmatched row). Same tight-watermark replay contract as
    :func:`stream_stream_join_outer`: sentinel batches on BOTH
    streams must push the min-of-sources watermark past the data or
    the unmatched rows of either side stay buffered."""
    return _interval_join(left, right, key, left_ts, right_ts, max_delay,
                          watermark, suffixes, "fullOuter")


def stream_stream_join_right(
    left: SparkDF,
    right: SparkDF,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> SparkDF:
    """RIGHT OUTER stream-stream join — the mirror of
    :func:`stream_stream_join_outer`: an unmatched RIGHT event emits
    left-null-padded once the watermark passes ``right_ts +
    max_delay`` (no left event with ``lts in [rts, rts + max_delay]``
    can still arrive). The output key is the coalesced single column,
    like the full variant. Same sentinel replay contract."""
    return _interval_join(left, right, key, left_ts, right_ts, max_delay,
                          watermark, suffixes, "rightOuter")


def stream_static_join(
    stream: SparkDF,
    static: SparkDF,
    on: str | list[str],
    how: str = "left",
    broadcast_static: bool = True,
) -> SparkDF:
    """Enrich a stream with a static dimension table (re-read each
    micro-batch; broadcast by default — the standard pattern for
    slowly-changing lookups)."""
    keys = [on] if isinstance(on, str) else list(on)
    rhs = F.broadcast(static) if broadcast_static else static
    return stream.join(rhs, on=keys, how=how)
