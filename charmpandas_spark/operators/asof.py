"""AS-OF join — a temporal operator Spark lacks natively.

For every left row, attach the most recent right row with
``right.ts <= left.ts`` within the same key (the classic time-series
enrichment join; DuckDB/kdb call it ASOF JOIN, pandas merge_asof).

Spark-first implementation — NO join at all: tag both sides, union,
and run one ``last(value, ignorenulls=True)`` window over
(key, ts)-sorted rows, then keep the left rows. One shuffle on the
key, linear scan within partitions; that is less work than any
join-based formulation (a range join would be O(n*m) per key, and a
window self-join shuffles twice).

Ties (equal ts) resolve to the right row matching AT the timestamp
(``<=`` semantics), by ordering right-tagged rows first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

__all__ = ["asof_join"]


def asof_join(
    left: SparkDF,
    right: SparkDF,
    ts_col: str,
    by: str | list[str],
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> SparkDF:
    """Enrich ``left`` with matched values of ``value_cols`` from
    ``right`` per ``by`` key — full pandas ``merge_asof`` parity:

    - ``direction="backward"`` (default): latest right at-or-before.
    - ``"forward"``: earliest right at-or-after (the same join-free
      window, run in reverse time order).
    - ``"nearest"``: whichever of the two is closer in time; exact
      ties resolve BACKWARD (pandas semantics).
    - ``tolerance_us``: matches farther than this many microseconds
      from the left timestamp become NULL (applied per direction
      BEFORE the nearest comparison, like pandas).

    Output: all left columns + one ``{col}{suffix}`` per value column
    (null when nothing matches). Still zero joins: one or two
    (key, ts)-sorted window passes over the tagged union — "nearest"
    costs exactly one extra window over the SAME shuffled layout
    (Catalyst reuses the exchange; only the sort order differs).
    """
    from ..timestamps import epoch_micros

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    by = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in by and c != ts_col]

    lcols = left.columns
    tagged_left = left.select(
        *by, F.col(ts_col).alias("__cps_ts"), F.lit(1).alias("__cps_side"),
        F.struct(*lcols).alias("__cps_row"),
        F.lit(None).cast("long").alias("__cps_rts"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__cps_v_{c}")
          for c in value_cols])
    tagged_right = right.select(
        *by, F.col(ts_col).alias("__cps_ts"), F.lit(0).alias("__cps_side"),
        F.lit(None).cast(tagged_left.schema["__cps_row"].dataType)
        .alias("__cps_row"),
        epoch_micros(ts_col).alias("__cps_rts"),
        *[F.col(c).alias(f"__cps_v_{c}") for c in value_cols])

    unioned = tagged_left.unionByName(tagged_right)

    # ONE struct per direction, gated on side==0, so the matched
    # timestamp and the matched values always come from the SAME
    # right row.  Filling each value column independently with
    # last(ignorenulls=True) would skip a matched row whose value is
    # NULL and return a stale value from an earlier row — possibly
    # outside tolerance (pandas returns NaN there).
    # also require a non-null right timestamp: a right row with a
    # NULL ts would otherwise emit a struct with __cps_rts=NULL that
    # shadows an earlier genuine match in the last(ignorenulls)
    # window (pandas merge_asof raises on null keys; we skip them)
    matched_struct = F.when(
        (F.col("__cps_side") == 0) & F.col("__cps_rts").isNotNull(),
        F.struct(F.col("__cps_rts").alias("__cps_rts"),
                 *[F.col(f"__cps_v_{c}").alias(f"__cps_v_{c}")
                   for c in value_cols]))

    def _fill(df, tag, ascending):
        # right rows (side=0) sort before left rows at equal ts in
        # BOTH directions -> "<=" / ">=" inclusive semantics
        order = (F.col("__cps_ts").asc() if ascending
                 else F.col("__cps_ts").desc())
        w = (Window.partitionBy(*by)
             .orderBy(order, F.col("__cps_side").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        return df.select(
            "*", F.last(matched_struct, ignorenulls=True).over(w)
                  .alias(f"__{tag}_m"))

    directions = {"backward": True, "forward": False}
    use = ([direction] if direction in directions
           else ["backward", "forward"])
    filled = unioned
    for d in use:
        filled = _fill(filled, d, directions[d])

    lts = epoch_micros("__cps_ts")

    def _delta(d):
        # match-existence + distance indicator: NULL when no match
        # (or out of tolerance). Based on the matched TIMESTAMP, not
        # the value — a matched row carrying a NULL value is still a
        # match (pandas semantics), and its (NULL) value is what the
        # join returns.
        delta = F.abs(lts - F.col(f"__{d}_m.__cps_rts"))
        if tolerance_us is not None:
            delta = F.when(delta <= tolerance_us, delta)
        return delta

    def _value(c):
        picks = {d: F.when(_delta(d).isNotNull(),
                           F.col(f"__{d}_m.__cps_v_{c}"))
                 for d in use}
        if direction != "nearest":
            return picks[direction]
        db, df_ = _delta("backward"), _delta("forward")
        # nearest: closer wins; ties and one-sided misses -> backward
        return (F.when(db.isNull(), picks["forward"])
                 .when(df_.isNull(), picks["backward"])
                 .when(df_ < db, picks["forward"])
                 .otherwise(picks["backward"]))

    out = (filled.filter(F.col("__cps_side") == 1)
           .select(*[F.col(f"__cps_row.{c}").alias(c) for c in lcols],
                   *[_value(c).alias(f"{c}{suffix}")
                     for c in value_cols]))
    return out
