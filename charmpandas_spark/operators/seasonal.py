"""Seasonal decomposition and changepoint detection over event series.

Beyond the reference surface (north star): the two time-series
diagnostics every metrics/monitoring pipeline runs on top of the
relational core —

- :func:`seasonal_decompose` splits a bucketed count series into an
  hour-of-day (or any modular phase) SEASONAL component and a
  residual, the additive-decomposition baseline behind "is this dip
  just the nightly trough?" dashboards and seasonally-adjusted
  anomaly rules.
- :func:`cusum_changepoint` locates the classic CUSUM level-shift
  point per series: the bucket where the running sum of deviations
  from the series mean attains its maximum absolute value (Page
  1954's statistic, offline form). A mean shift at time T makes
  |S_t| peak at T; a stable series keeps S_t near zero.

Integer doctrine: buckets are ``epoch_micros div bucket_us``; counts
are exact BIGINTs; means are floored micro-units; deviations and
CUSUM partial sums stay in exact integer micro-space (1e6*n is exact,
the mean is floored once), so both engines agree bit-for-bit.

Plan shape: the only full-data exchange is the
(group, bucket) counting aggregation — map-side partial agg bounds
shuffle volume by bucket cardinality, not event rows. Everything
after operates on the bucketed series: O(groups x buckets) rows.
The per-group phase/cusum windows partition by group over that
SERIES (hours-of-history rows per group, not events) — a year of
hourly buckets is 8.8k rows per group, trivially within a task's
spill-able sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

from ..timestamps import epoch_micros

__all__ = [
    "seasonal_decompose", "seasonal_decompose_sql",
    "seasonal_anomalies", "seasonal_anomalies_sql",
    "cusum_changepoint", "cusum_changepoint_sql",
]

MICRO = 1_000_000


def _series(df: SparkDF, ts_col: str, group_cols: list[str],
            bucket_us: int) -> SparkDF:
    """(group..., bucket, n) exact bucketed count series."""
    b = F.expr(f"__us div {bucket_us}").alias("bucket")
    return (df.withColumn("__us", epoch_micros(ts_col))
              .groupBy(*group_cols, b)
              .agg(F.count(F.lit(1)).alias("n")))


def seasonal_decompose(df: SparkDF, ts_col: str,
                       group_cols: list[str], bucket_us: int,
                       period: int = 24) -> SparkDF:
    """Additive decomposition of the per-(group, bucket) count
    series: ``phase = bucket % period`` (hour-of-day for hourly
    buckets), ``seasonal_micro`` = floored micro-mean of 1e6*n over
    the group's buckets at that phase, ``level_micro`` = the group's
    overall micro-mean, ``resid_micro = 1e6*n - seasonal_micro``.

    Means average over OBSERVED buckets only (an all-empty hour is a
    missing row, not a zero — compose with ``resample_events`` for a
    gap-filled series first if zeros should count). Two tiny
    aggregations over the bucketed series + broadcast joins back —
    the event-scale work is the one counting exchange.
    """
    from pyspark import StorageLevel

    # the bucketed series feeds THREE branches (seasonal means, level
    # means, and the final join) — pin it so the event-scale counting
    # exchange runs once, not three times. It is groups x buckets
    # rows: tiny at any corpus scale. Caller frees via dedup.release.
    s = _series(df, ts_col, group_cols, bucket_us) \
        .withColumn("phase", F.expr(f"bucket % {period}")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    seas = (s.groupBy(*group_cols, "phase")
             .agg(F.expr(f"({MICRO} * sum(n)) div count(n)")
                   .alias("seasonal_micro")))
    lvl = (s.groupBy(*group_cols)
            .agg(F.expr(f"({MICRO} * sum(n)) div count(n)")
                  .alias("level_micro")))
    out = (s.join(F.broadcast(seas), [*group_cols, "phase"])
            .join(F.broadcast(lvl), group_cols)
            .withColumn("resid_micro",
                        F.expr(f"{MICRO} * n - seasonal_micro")))
    out = out.select(*group_cols, "bucket", "phase", "n",
                     "seasonal_micro", "level_micro", "resid_micro")
    out._cps_persisted = [s]  # see dedup.release()
    return out


def seasonal_decompose_sql(t: str, ts_expr: str, group_exprs: list[str],
                           bucket_us: int, period: int = 24) -> str:
    """DuckDB twin (identical floored micro-means over observed
    buckets)."""
    g = ", ".join(group_exprs)
    return f"""
        WITH series AS (
            SELECT {g}, epoch_us({ts_expr}) // {bucket_us} AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM {t} GROUP BY {g}, bucket),
        phased AS (
            SELECT *, bucket % {period} AS phase FROM series),
        seas AS (
            SELECT {g}, phase,
                   CAST(({MICRO} * sum(n)) // count(n) AS BIGINT)
                       AS seasonal_micro
            FROM phased GROUP BY {g}, phase),
        lvl AS (
            SELECT {g},
                   CAST(({MICRO} * sum(n)) // count(n) AS BIGINT)
                       AS level_micro
            FROM phased GROUP BY {g})
        SELECT p.*, s.seasonal_micro, l.level_micro,
               CAST({MICRO} * p.n - s.seasonal_micro AS BIGINT)
                   AS resid_micro
        FROM phased p
        JOIN seas s USING ({g}, phase)
        JOIN lvl l USING ({g})
    """


def seasonal_anomalies(df: SparkDF, ts_col: str,
                       group_cols: list[str], bucket_us: int,
                       period: int = 24, k: float = 3.0) -> SparkDF:
    """Seasonally-ADJUSTED robust anomaly detection: the composition
    a real monitoring rule needs — :func:`seasonal_decompose` first
    (so the nightly trough is not an "anomaly"), then the
    median/MAD flag (mad_outliers doctrine) on the RESIDUAL series.
    A bucket is anomalous when ``|resid - median(resid)| >
    k * MAD(resid)`` within its group. Emits every bucket with its
    residual, the group's median/MAD (exact .5-interpolating
    percentiles over integer micros — cross-engine-exact doubles)
    and the boolean flag.

    All percentile work happens on the BUCKETED series (groups x
    buckets rows); the event-scale cost is still the single counting
    exchange inside the decomposition."""
    s = seasonal_decompose(df, ts_col, group_cols, bucket_us, period)
    # the decomposition output feeds three more branches — its pinned
    # bucketed series (s._cps_persisted) already caps the event-scale
    # cost at one pass; the branches here re-derive only bucket-level
    # joins over the cached series.
    med = (s.groupBy(*group_cols)
            .agg(F.expr("percentile(resid_micro, 0.5)").alias("med")))
    dev = (s.join(F.broadcast(med), group_cols)
            .withColumn("__dev", F.abs(F.col("resid_micro")
                                       - F.col("med"))))
    mad = (dev.groupBy(*group_cols)
              .agg(F.expr("percentile(__dev, 0.5)").alias("mad"),
                   F.first("med").alias("med")))
    out = (s.join(F.broadcast(mad), group_cols)
             .select(*group_cols, "bucket", "n", "resid_micro",
                     "med", "mad",
                     (F.abs(F.col("resid_micro") - F.col("med"))
                      > F.lit(k) * F.col("mad")).alias("is_anomaly")))
    out._cps_persisted = getattr(s, "_cps_persisted", [])
    return out


def seasonal_anomalies_sql(t: str, ts_expr: str,
                           group_exprs: list[str], bucket_us: int,
                           period: int = 24, k: float = 3.0) -> str:
    """DuckDB twin of :func:`seasonal_anomalies` (decomposition as a
    nested subquery, identical quantile_cont median/MAD)."""
    g = ", ".join(group_exprs)
    inner = seasonal_decompose_sql(t, ts_expr, group_exprs,
                                   bucket_us, period)
    return f"""
        WITH s AS ({inner}),
        med AS (
            SELECT {g}, quantile_cont(resid_micro, 0.5) AS med
            FROM s GROUP BY {g}),
        dev AS (
            SELECT s.*, m.med,
                   abs(s.resid_micro - m.med) AS adev
            FROM s JOIN med m USING ({g})),
        mad AS (
            SELECT {g}, quantile_cont(adev, 0.5) AS mad,
                   any_value(med) AS med
            FROM dev GROUP BY {g})
        SELECT {g}, s.bucket, s.n, s.resid_micro, m.med, m.mad,
               abs(s.resid_micro - m.med) > {k} * m.mad AS is_anomaly
        FROM s JOIN mad m USING ({g})
    """


def cusum_changepoint(df: SparkDF, ts_col: str, group_cols: list[str],
                      bucket_us: int) -> SparkDF:
    """Offline CUSUM changepoint per group: with ``mean_micro`` the
    floored micro-mean of the bucketed counts, the running sum
    ``S_t = sum_{u<=t} (1e6*n_u - mean_micro)`` peaks (in absolute
    value) at the most likely level-shift bucket. Emits one row per
    group: the argmax bucket (ties -> earliest), the signed peak
    ``s_micro``, plus ``mean_micro`` and ``n_buckets`` context.
    """
    from pyspark import StorageLevel

    # series feeds the mean aggregate AND the join back — pin the
    # (tiny, groups x buckets) series so events are counted once
    series = _series(df, ts_col, group_cols, bucket_us) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    mean = (series.groupBy(*group_cols)
            .agg(F.expr(f"({MICRO} * sum(n)) div count(n)")
                  .alias("mean_micro"),
                 F.count(F.lit(1)).alias("n_buckets")))
    s = series.join(F.broadcast(mean), group_cols)
    w = (Window.partitionBy(*group_cols).orderBy("bucket")
               .rowsBetween(Window.unboundedPreceding, 0))
    s = s.withColumn(
        "s_micro", F.sum(F.expr(f"{MICRO} * n - mean_micro")).over(w))
    pick = Window.partitionBy(*group_cols).orderBy(
        F.abs(F.col("s_micro")).desc(), F.col("bucket").asc())
    out = (s.withColumn("__rn", F.row_number().over(pick))
            .where(F.col("__rn") == 1)
            .select(*group_cols,
                    F.col("bucket").alias("cp_bucket"),
                    "s_micro", "mean_micro", "n_buckets"))
    out._cps_persisted = [series]  # see dedup.release()
    return out


def cusum_changepoint_sql(t: str, ts_expr: str, group_exprs: list[str],
                          bucket_us: int) -> str:
    """DuckDB twin (identical floored mean, running sum, and
    (|S| desc, bucket asc) argmax)."""
    g = ", ".join(group_exprs)
    return f"""
        WITH series AS (
            SELECT {g}, epoch_us({ts_expr}) // {bucket_us} AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM {t} GROUP BY {g}, bucket),
        m AS (
            SELECT {g},
                   CAST(({MICRO} * sum(n)) // count(n) AS BIGINT)
                       AS mean_micro,
                   CAST(count(*) AS BIGINT) AS n_buckets
            FROM series GROUP BY {g}),
        cum AS (
            SELECT s.*, m.mean_micro, m.n_buckets,
                   CAST(sum({MICRO} * s.n - m.mean_micro) OVER (
                       PARTITION BY {g} ORDER BY s.bucket
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_micro
            FROM series s JOIN m USING ({g})),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY {g}
                       ORDER BY abs(s_micro) DESC, bucket ASC) AS rn
            FROM cum)
        SELECT {g}, bucket AS cp_bucket, s_micro, mean_micro,
               n_buckets
        FROM ranked WHERE rn = 1
    """
