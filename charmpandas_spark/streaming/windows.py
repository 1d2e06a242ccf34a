"""Windowed and sessionized event processing — batch AND streaming.

The reference has no streaming at all (SURVEY §2.7: the only
"streaming" is its CCS socket). These operators target the ``events``
table shape (event_id, ts, user_id, event_type, value, props) and are
written so the SAME transformation applies to a batch DataFrame or a
``readStream`` DataFrame — the Structured Streaming contract.

Scale design: tumbling/sliding windows are hash-partitioned by
(window, keys) with partial aggregation; sessionization uses Spark's
native ``session_window`` (streaming-capable, state-store backed)
rather than a gaps-and-islands window sort, so it scales to
out-of-core state and handles late data via watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

from ..timestamps import ensure_event_time, ntz_to_ltz

__all__ = [
    "tumbling_window_agg",
    "sliding_window_agg",
    "sessionize",
    "sessionize_stream_native",
    "session_stats",
    "stream_from_parquet",
    "replay_stream_ordered",
    "stream_tumbling_counts",
    "chunked_range_agg",
]


def chunked_range_agg(
    df: SparkDF,
    part_cols: list[str],
    order_col,
    aggs: dict,
    window: int,
    chunk_width: int | None = None,
) -> SparkDF:
    """Trailing RANGE-frame window aggregation that parallelizes past
    the partition-key cardinality.

    Equivalent to ``agg.over(Window.partitionBy(*part_cols)
    .orderBy(order_col).rangeBetween(-window, 0))`` — but a plain
    window makes every key a SINGLE sorted task, so with 5 event
    types the 31 other cores idle, and at 100x the data each task is
    a 100x bigger single-threaded sort (the r3 scale-killer flagged
    for ``window_range_frame``).

    Two-phase plan instead: bucket rows into time chunks of
    ``chunk_width`` (>= window, default == window), and union each
    row a second time tagged into the NEXT chunk as context-only.
    The window then partitions by (keys..., chunk): every row's
    trailing frame is fully contained in its own chunk plus the
    context copies from the previous one — nothing older can be in a
    frame because chunk_width >= window — and the RANGE condition
    drops context rows that are too old. Own rows are kept, context
    rows dropped after aggregation. Exactly one shuffle (on
    keys+chunk, like the plain window's on keys), 2x the rows, and
    parallelism = keys x time-chunks, which grows WITH the data
    instead of being pinned at n_keys.

    ``order_col``: INTEGRAL Column (e.g.
    ``timestamps.epoch_micros("ts")``) — or a timestamp column NAME,
    which is converted to epoch micros NTZ-safely —
    ``window``/``chunk_width`` are in its units. Chunk ids are
    computed in pure int64 arithmetic (``(t - pmod(t, w)) div w`` —
    pmod makes the numerator an exact multiple, so the division is
    exact), never via double division, which would silently
    mis-bucket near chunk boundaries once values exceed 2^53 (e.g.
    nanosecond epochs). ``aggs``: output name -> aggregate Column;
    any aggregate whose value depends only on the frame CONTENTS
    (sum/count/min/max/avg) is exact — the frame multiset is
    identical to the plain window's, so results (including decimal
    sums) are bit-identical.
    """
    from pyspark.sql import Window

    if chunk_width is None:
        chunk_width = window
    if chunk_width < window:
        raise ValueError("chunk_width must be >= window so a frame "
                         "never spans more than two chunks")
    if isinstance(order_col, str):
        # accept a raw timestamp column name (any flavor) and derive
        # integral micros NTZ-safely; Column inputs must already be
        # integral (documented contract below).
        from ..timestamps import epoch_micros
        order_col = epoch_micros(order_col)
    base = df.withColumn("__cps_t", order_col.cast("long"))
    # int64-exact floor division (pmod makes the numerator an exact
    # multiple; SQL `div` is integral) — double division would round
    # near chunk boundaries above 2^53
    chunk = F.expr(
        f"(__cps_t - pmod(__cps_t, {chunk_width}L)) div {chunk_width}L")
    own = (base.withColumn("__cps_chunk", chunk)
               .withColumn("__cps_own", F.lit(True)))
    ctx = (base.withColumn("__cps_chunk", chunk + 1)
               .withColumn("__cps_own", F.lit(False)))
    w = (Window.partitionBy(*part_cols, "__cps_chunk")
               .orderBy("__cps_t").rangeBetween(-window, 0))
    out = own.unionByName(ctx)
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return (out.filter(F.col("__cps_own"))
               .drop("__cps_t", "__cps_chunk", "__cps_own"))


def _sum_value(value_col: str, exact: bool):
    """``sum_value`` aggregate: plain double sum, or the long-backed
    exact fixed-point split (one output column built from two sum
    aggregates — legal in both batch and streaming ``agg()``)."""
    if not exact:
        return F.sum(value_col).alias("sum_value")
    from ..functions.exact import micro_parts, recombine
    hi, lo = micro_parts(value_col)
    return recombine(F.sum(hi), F.sum(lo)).alias("sum_value")


def tumbling_window_agg(
    df: SparkDF,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    window: str = "1 hour",
    value_col: str = "value",
    watermark: str | None = None,
    exact: bool = False,
) -> SparkDF:
    """Tumbling-window count + sum. Works unchanged on batch and
    streaming inputs; pass ``watermark`` for streaming late-data
    bounds. ``exact=True`` sums via the long-backed fixed-point split
    (functions/exact.py) — order-independent exact doubles without
    the decimal(28,6) BigDecimal buffer; the split is two plain sum
    aggregates, so the streaming state-store path is unchanged."""
    if watermark:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    keys = keys or []
    return (df.groupBy(F.window(ts_col, window), *keys)
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _sum_value(value_col, exact))
              .select(F.col("window.start").alias("window_start"),
                      *keys, "n_events", "sum_value"))


def sliding_window_agg(
    df: SparkDF,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    window: str = "1 hour",
    slide: str = "15 minutes",
    value_col: str = "value",
    watermark: str | None = None,
    exact: bool = False,
) -> SparkDF:
    """Sliding (hopping) window aggregation. ``exact`` as in
    :func:`tumbling_window_agg`."""
    if watermark:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    keys = keys or []
    return (df.groupBy(F.window(ts_col, window, slide), *keys)
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _sum_value(value_col, exact))
              .select(F.col("window.start").alias("window_start"),
                      *keys, "n_events", "sum_value"))


def sessionize(
    df: SparkDF,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    value_col: str = "value",
    watermark: str | None = None,
) -> SparkDF:
    """Session windows per user: events closer than ``gap`` merge into
    one session. Uses Spark's native ``session_window`` — the same
    operator is streaming-capable with a watermark (state-store
    backed), unlike a gaps-and-islands sort."""
    if watermark:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    return (df.groupBy(F.session_window(ts_col, gap), F.col(user_col))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(value_col).alias("sum_value"),
                   F.min(ts_col).alias("first_event"))
              .select(user_col,
                      F.col("session_window.start").alias("session_start"),
                      "n_events", "sum_value"))


def sessionize_stream_native(
    stream_df: SparkDF,
    gap_ms: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    ts_ms_col: str = "ts_ms",
    watermark: str = "10 minutes",
) -> SparkDF:
    """Native ``session_window`` twin of
    :func:`..stateful.sessionize_stream` — SAME signature, SAME output
    schema ``(user_id, start_ms, end_ms, n_events)``, so the two are
    drop-in interchangeable behind a registry query.

    The JVM-side session-window state store does the gap merging
    (no Python state workers, no Arrow batch transfer per key per
    micro-batch); session bounds come from ``min/max(ts_ms_col)``
    inside each session group, which equals the stateful walker's
    first/last-event epoch millis exactly. Sessions finalize when the
    event-time watermark passes ``last + gap`` — append mode emits
    each closed session once, like the stateful variant.

    Expressiveness boundary (why the applyInPandasWithState variant
    still exists): ``session_window`` is an AGGREGATION — per-session
    reductions of built-in aggregates only. It cannot run per-event
    custom logic inside the session (CUSUM resets in
    ``threshold_alerts_stream``, the running-totals update emission),
    and it cannot EMIT A SESSION EARLY when a later same-user event
    crosses the gap — closure always waits for the watermark. For
    the closed-session readout both paths produce identical rows on
    an availableNow drain, and the round-15 A/B measured this path
    2.3x/5.2x/8.2x faster at sf0.1/sf1/sf5 (the round-15 sessionize
    A/B artifact is in git at commit 54701ba) — why the registry's
    ``streaming_sessionize`` routes here.
    """
    df = ensure_event_time(stream_df, ts_col) \
        .withWatermark(ts_col, watermark)
    return (df.groupBy(F.session_window(
                           ts_col, f"{int(gap_ms)} milliseconds"),
                       F.col(user_col))
              .agg(F.min(ts_ms_col).alias("start_ms"),
                   F.max(ts_ms_col).alias("end_ms"),
                   F.count(F.lit(1)).alias("n_events"))
              .select(F.col(user_col).alias("user_id"),
                      "start_ms", "end_ms", "n_events"))


def session_stats(
    df: SparkDF,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> SparkDF:
    """Per-user session counts (n_sessions, total events)."""
    sessions = sessionize(df, ts_col, user_col, gap)
    return (sessions.groupBy(user_col)
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").cast("bigint").alias("n_events")))


# ---------------------------------------------------------------------------
# Structured Streaming entry points
# ---------------------------------------------------------------------------

def stream_from_parquet(spark, path: str, schema=None,
                        max_files_per_trigger: int = 1) -> SparkDF:
    """File-source stream over a parquet directory (the standard way
    to replay a table as a stream; schema required by streaming)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(path))
    # normalize NTZ at the stream ingest boundary too (this path
    # bypasses sources/parquet.read_parquet) — timestamps.py
    return ntz_to_ltz(stream)


def replay_stream_ordered(spark, batches, path: str,
                          max_files_per_trigger: int = 1) -> SparkDF:
    """Replay ``batches`` as micro-batches in EXACTLY the given
    order: each DataFrame is written as ONE parquet file,
    sequentially, so the file source's modification-time ordering is
    the write ordering (a parallel multi-file write — the plain
    replay helper — cannot guarantee arrival order). Load-bearing
    for watermark/late-data semantics, where WHICH batch a row
    arrives in decides whether it is dropped."""
    import shutil
    import time

    shutil.rmtree(path, ignore_errors=True)
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(path)
        # FileStreamSource orders by ms-granularity mtime; parquet
        # write jobs take >>1 ms, the sleep is belt-and-braces
        time.sleep(0.02)
    return stream_from_parquet(
        spark, path, max_files_per_trigger=max_files_per_trigger)


def stream_tumbling_counts(
    stream_df: SparkDF,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
):
    """Streaming tumbling-window counts with watermarked late-data
    handling. Returns the (unstarted) streaming DataFrame; callers
    attach ``.writeStream`` with their sink/trigger."""
    return tumbling_window_agg(stream_df, ts_col, keys or ["event_type"],
                               window, watermark=watermark)
