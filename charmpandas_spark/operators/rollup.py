"""Incremental rollup maintenance — the materialized-view pattern for
append-only facts.

The event table is never re-aggregated from scratch for a
dashboard: a small rollup table of MERGEABLE partial aggregates
(count / sum / min / max — anything with a commutative monoid) is
maintained by folding in each new batch's partial aggregate. This
module provides that fold as a pure DataFrame transform plus a
parquet-backed apply loop:

    rollup_init(batch)            -> first rollup table
    rollup_merge(rollup, batch)   -> rollup ⊕ agg(batch)

Scale: each maintenance step aggregates ONLY the new batch (map-side
partials collapse it before the one shuffle on the rollup keys), then
unions the group-cardinality rollup table and re-folds — the rollup
is keys-sized, so the union+fold is trivially cheap no matter how
much history it summarizes. AVG and other non-mergeable readouts are
derived at READ time from the mergeable parts (sum/count), never
stored. The same fold serves as the multi-day / multi-table combine
(rollups of rollups), exactly like the HLL sketch union in
``functions/sketches.py`` — this is its exact-aggregate sibling.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["rollup_batch", "rollup_merge", "rollup_apply_batches"]


def rollup_batch(batch: SparkDF, keys: Sequence[str],
                 value_col: str) -> SparkDF:
    """Partial aggregate of one batch: ``(keys, n, total, vmin,
    vmax)`` over integer ``value_col``."""
    return (batch.groupBy(*keys)
                 .agg(F.count(F.lit(1)).cast("long").alias("n"),
                      F.sum(value_col).cast("long").alias("total"),
                      F.min(value_col).cast("long").alias("vmin"),
                      F.max(value_col).cast("long").alias("vmax")))


def rollup_merge(rollup: SparkDF, batch_agg: SparkDF,
                 keys: Sequence[str]) -> SparkDF:
    """Fold a batch's partial aggregate into an existing rollup:
    union + one group-cardinality re-aggregation (the monoid ⊕)."""
    keys = list(keys)
    return (rollup.unionByName(batch_agg)
                  .groupBy(*keys)
                  .agg(F.sum("n").cast("long").alias("n"),
                       F.sum("total").cast("long").alias("total"),
                       F.min("vmin").cast("long").alias("vmin"),
                       F.max("vmax").cast("long").alias("vmax")))


def rollup_apply_batches(batches: Sequence[SparkDF],
                         keys: Sequence[str],
                         value_col: str) -> SparkDF:
    """Maintain a rollup across a sequence of batches (the unit-test /
    fixture driver for the parquet-backed loop a production job runs
    per arriving partition). Returns the final rollup."""
    rollup = None
    for b in batches:
        agg = rollup_batch(b, keys, value_col)
        rollup = agg if rollup is None \
            else rollup_merge(rollup, agg, keys)
    return rollup
