"""Per-group top-k without a global per-group sort.

The naive formulation — ``row_number() OVER (PARTITION BY group ORDER
BY score)`` — shuffles EVERY row to its group's reducer and sorts all
of them, and when the group cardinality is low (segments, languages,
sources: the common case) parallelism collapses to n_groups single
tasks. This operator instead runs two BOUNDED aggregations:

  1. partial top-k per (group, salt): each of S salt shards keeps at
     most k candidates — ``sort_array(collect_list(...))`` sliced to
     k, an O(k)-state aggregate with map-side partial combine;
  2. merge: per group, flatten the ≤ S·k survivors, sort once, keep k.

Shuffled bytes are ≤ groups·S·k structs — independent of the data
size — and every stage is parallel in groups·S. No stage orders
the whole table: the reference's top-k is a full global sample
sort + limit (partition.cpp's sort path); a bounded partial aggregate
never materializes an ordering of the whole table.

Ordering contract: ``order_col`` is INTEGER units (cents/micros —
repo doctrine), descending by default, ties broken by ascending
``id_col`` so the result is total-ordered and cross-engine
hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["topk_per_group", "topk_per_group_sql"]


def topk_per_group(df: SparkDF, group_cols: list[str], order_col: str,
                   id_col: str, k: int, ascending: bool = False,
                   num_salts: int = 32) -> SparkDF:
    """Top-``k`` rows per group by ``order_col`` (default descending,
    ties → smallest ``id_col``): returns
    ``(group_cols…, rank, id_col, order_col)`` with rank 1-based.

    Rows with NULL ``order_col`` never place. Groups with fewer than
    ``k`` rows yield fewer rows.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    sign = 1 if ascending else -1
    key = (F.col(order_col).cast("long") * sign).alias("__ord")
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_salts))
    cand = (df.where(F.col(order_col).isNotNull())
              .select(*group_cols, salt.alias("__salt"),
                      F.struct(key, F.col(id_col).cast("long")
                               .alias("__id")).alias("__c")))
    partial = (cand.groupBy(*group_cols, "__salt")
                   .agg(F.slice(F.sort_array(F.collect_list("__c")),
                                1, k).alias("__top")))
    merged = (partial.groupBy(*group_cols)
                     .agg(F.slice(F.sort_array(
                              F.flatten(F.collect_list("__top"))),
                          1, k).alias("__top")))
    out = merged.select(*group_cols,
                        F.posexplode("__top").alias("__pos", "__c"))
    return out.select(
        *group_cols,
        (F.col("__pos") + 1).cast("int").alias("rank"),
        F.col("__c.__id").alias(id_col),
        (F.col("__c.__ord") * sign).alias(order_col))


def topk_per_group_sql(t: str, group_exprs: list[str], order_expr: str,
                       id_expr: str, k: int,
                       ascending: bool = False) -> str:
    """DuckDB twin: the plain window formulation — same rows by the
    total-order contract, however the engine schedules it."""
    gsel = ", ".join(group_exprs)
    direction = "ASC" if ascending else "DESC"
    return f"""
        WITH ranked AS (
            SELECT {gsel},
                   CAST({order_expr} AS BIGINT) AS ord,
                   CAST({id_expr} AS BIGINT) AS id,
                   row_number() OVER (
                       PARTITION BY {gsel}
                       ORDER BY CAST({order_expr} AS BIGINT) {direction},
                                CAST({id_expr} AS BIGINT) ASC) AS rk
            FROM {t}
            WHERE {order_expr} IS NOT NULL)
        SELECT {gsel}, CAST(rk AS INT) AS rank, id, ord
        FROM ranked WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# incremental (mergeable) top-k — the leaderboard materialization
# ---------------------------------------------------------------------------

def topk_batch(batch: SparkDF, group_cols: list[str], order_col: str,
               id_col: str, k: int, ascending: bool = False) -> SparkDF:
    """One batch folded to per-group top-k state: ``(group_cols…,
    __top)`` where ``__top`` is the ≤ k best ``(ord, id)`` structs.
    This is the MERGEABLE partial of :func:`topk_per_group` — top-k
    under a total order is a commutative monoid (merge = concat,
    re-sort, cut), so a leaderboard over an append-only stream is
    maintained by folding per-batch states, never by rescanning
    history (`rollup_incremental`'s pattern; state per group is k
    structs regardless of history size)."""
    sign = 1 if ascending else -1
    key = (F.col(order_col).cast("long") * sign).alias("__ord")
    return (batch.where(F.col(order_col).isNotNull())
                 .select(*group_cols,
                         F.struct(key, F.col(id_col).cast("long")
                                  .alias("__id")).alias("__c"))
                 .groupBy(*group_cols)
                 .agg(F.slice(F.sort_array(F.collect_list("__c")),
                              1, k).alias("__top")))


def topk_merge(state: SparkDF, batch_state: SparkDF,
               group_cols: list[str], k: int) -> SparkDF:
    """Fold one batch's top-k state into the leaderboard: union +
    group-cardinality re-cut (the monoid ⊕). Associative and
    commutative — any batch split of the log reaches the same state.
    Also IDEMPOTENT under the unique-id contract: ``array_distinct``
    drops the duplicate (ord, id) structs a replayed fold re-adds, so
    a streaming sink can re-merge a replayed micro-batch safely
    (duplicated best entries would otherwise push legitimate rows
    past the cut)."""
    return (state.unionByName(batch_state)
                 .groupBy(*group_cols)
                 .agg(F.slice(F.array_distinct(F.sort_array(
                          F.flatten(F.collect_list("__top")))),
                      1, k).alias("__top")))


def topk_state_result(state: SparkDF, group_cols: list[str],
                      order_col: str, id_col: str,
                      ascending: bool = False) -> SparkDF:
    """Explode leaderboard state to ``(group_cols…, rank, id, ord)``
    — same shape as :func:`topk_per_group`."""
    sign = 1 if ascending else -1
    out = state.select(*group_cols,
                       F.posexplode("__top").alias("__pos", "__c"))
    return out.select(
        *group_cols,
        (F.col("__pos") + 1).cast("int").alias("rank"),
        F.col("__c.__id").alias(id_col),
        (F.col("__c.__ord") * sign).alias(order_col))


def topk_apply_batches(batches: list[SparkDF], group_cols: list[str],
                       order_col: str, id_col: str, k: int,
                       ascending: bool = False) -> SparkDF:
    """Maintain the leaderboard across a batch sequence and explode
    the final state — must equal :func:`topk_per_group` over the
    union, which is exactly what the oracle checks."""
    state = None
    for b in batches:
        s = topk_batch(b, group_cols, order_col, id_col, k, ascending)
        state = s if state is None \
            else topk_merge(state, s, group_cols, k)
    return topk_state_result(state, group_cols, order_col, id_col,
                             ascending)
