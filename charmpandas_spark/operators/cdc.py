"""Change-data-capture log processing: snapshot compaction and SCD
Type-2 history construction.

A CDC feed is an ordered log of ``(key, seq, op, attrs…)`` rows with
``op ∈ {I, U, D}`` and possibly MANY entries per key (unlike
:mod:`.merge`, which applies one deduplicated batch). Two standard
consumers:

- :func:`cdc_latest` — log compaction: the latest surviving version
  per key (Kafka compacted-topic / Debezium snapshot semantics).
- :func:`scd2_build` — slowly-changing-dimension Type-2: every
  version becomes a row with a ``[valid_from, valid_to)`` sequence
  interval; a delete closes the last interval without opening one.

Plan shape: both are ONE hash exchange of the log on
the key columns followed by a per-key window (``row_number`` /
``lead``) — no join, no second shuffle, and the window runs inside
whole-stage codegen. Per-key state is the key's own change history
(bounded by churn, not table size); AQE splits skewed reducer
partitions. Compare Delta/Iceberg ``MERGE``-per-batch replay: this is
the O(1)-pass equivalent for bootstrap / backfill over the whole
retained log.

Determinism: ``(seq)`` must be a total order per key (CDC feeds carry
an LSN / binlog position). Ties are broken by an explicit op priority
(D=2 > U=1 > I=0, so a same-seq delete wins) — encoded identically in
both engines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

__all__ = ["cdc_latest", "cdc_latest_sql", "scd2_build", "scd2_sql",
           "survivorship", "survivorship_sql"]


def _op_rank(op_col: str):
    return (F.when(F.col(op_col) == "D", 2)
             .when(F.col(op_col) == "U", 1).otherwise(0))


def _op_rank_sql(op_col: str) -> str:
    return (f"CASE {op_col} WHEN 'D' THEN 2 WHEN 'U' THEN 1 "
            "ELSE 0 END")


def cdc_latest(log: SparkDF, keys: Sequence[str], seq_col: str,
               op_col: str) -> SparkDF:
    """Compact a CDC log to the latest surviving row per key.

    Keeps every column of ``log`` except ``op_col``; a key whose
    last entry is a delete disappears entirely.
    """
    keys = list(keys)
    w = (Window.partitionBy(*keys)
               .orderBy(F.col(seq_col).desc(), _op_rank(op_col).desc()))
    out_cols = [c for c in log.columns if c != op_col]
    return (log.withColumn("__cps_rn", F.row_number().over(w))
               .filter((F.col("__cps_rn") == 1) & (F.col(op_col) != "D"))
               .select(*out_cols))


def cdc_latest_sql(log_sql: str, keys: Sequence[str], seq_col: str,
                   op_col: str, out_cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`cdc_latest`; ``log_sql`` is a derived
    table producing the same log."""
    ks = ", ".join(keys)
    cols = ", ".join(out_cols)
    return f"""
        WITH cdc_log AS ({log_sql}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY {ks}
                ORDER BY {seq_col} DESC,
                         {_op_rank_sql(op_col)} DESC) AS rn
            FROM cdc_log)
        SELECT {cols} FROM ranked
        WHERE rn = 1 AND {op_col} <> 'D'
    """


def scd2_build(log: SparkDF, keys: Sequence[str], seq_col: str,
               op_col: str) -> SparkDF:
    """Build an SCD Type-2 history from a CDC log: one row per
    NON-delete version carrying ``valid_from`` (its own seq),
    ``valid_to`` (the next change's seq, NULL while current) and
    ``is_current``. A delete contributes no row of its own but closes
    its predecessor's interval and makes the key non-current.
    """
    keys = list(keys)
    w = (Window.partitionBy(*keys)
               .orderBy(F.col(seq_col).asc(), _op_rank(op_col).asc()))
    nxt = F.lead(F.col(seq_col)).over(w)
    out_cols = [c for c in log.columns if c not in (op_col, seq_col)]
    return (log.withColumn("valid_to", nxt)
               .filter(F.col(op_col) != "D")
               .select(*out_cols,
                       F.col(seq_col).alias("valid_from"),
                       "valid_to",
                       F.col("valid_to").isNull().alias("is_current")))


def scd2_sql(log_sql: str, keys: Sequence[str], seq_col: str,
             op_col: str, out_cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`scd2_build`."""
    ks = ", ".join(keys)
    cols = ", ".join(c for c in out_cols
                     if c not in (op_col, seq_col))
    return f"""
        WITH cdc_log AS ({log_sql}),
        seqd AS (
            SELECT *, lead({seq_col}) OVER (
                PARTITION BY {ks}
                ORDER BY {seq_col} ASC,
                         {_op_rank_sql(op_col)} ASC) AS valid_to
            FROM cdc_log)
        SELECT {cols}, {seq_col} AS valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM seqd WHERE {op_col} <> 'D'
    """


def survivorship(log: SparkDF, keys: Sequence[str], seq_col: str,
                 attrs: Sequence[str]) -> SparkDF:
    """Golden-record construction (MDM survivorship): one row per key
    whose every attribute is the key's LATEST NON-NULL value across
    the change history — attributes fuse independently, so a partial
    update (some columns null = "not provided") refines rather than
    erases. The complement of :func:`cdc_latest`, which takes the
    whole latest row verbatim, nulls included.

    One hash exchange on the key + one codegen'd window pass:
    ``last(attr, ignorenulls) OVER (... ORDER BY seq ROWS UNBOUNDED
    PRECEDING..CURRENT)`` evaluated at the last row per key (all
    same-spec expressions share a single Window node). Emits
    ``last_seq`` alongside for lineage.
    """
    keys = list(keys)
    w = (Window.partitionBy(*keys).orderBy(F.col(seq_col).asc())
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))
    fused = [F.last(F.col(a), ignorenulls=True).over(w).alias(a)
             for a in attrs]
    rn = F.row_number().over(
        Window.partitionBy(*keys).orderBy(F.col("last_seq").desc()))
    out = (log.select(*keys, F.col(seq_col).alias("last_seq"),
                      *fused)
              .withColumn("__rn", rn))
    return out.where(F.col("__rn") == 1).drop("__rn")


def survivorship_sql(log_sql: str, keys: Sequence[str], seq_col: str,
                     attrs: Sequence[str]) -> str:
    """DuckDB twin of :func:`survivorship` (same IGNORE NULLS running
    window; same last-row selection)."""
    ks = ", ".join(keys)
    over = (f"OVER (PARTITION BY {ks} ORDER BY {seq_col} ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    fused = ", ".join(
        f"last_value({a} IGNORE NULLS) {over} AS {a}" for a in attrs)
    return f"""
        WITH cdc_log AS ({log_sql}),
        fused AS (
            SELECT {ks}, {seq_col} AS last_seq, {fused},
                   row_number() OVER (PARTITION BY {ks}
                                      ORDER BY {seq_col} DESC) AS rn
            FROM cdc_log)
        SELECT {ks}, last_seq, {", ".join(attrs)}
        FROM fused WHERE rn = 1
    """
