"""Bucketed (co-located) tables — the shuffle-elimination scale path.

The reference re-shuffles both join inputs on every join
(src/partition.cpp:1422-1581) and even re-partitions them as a side
effect. Spark's answer is to pay the shuffle ONCE at write
time: ``bucketBy(k)`` hash-partitions the table into fixed buckets on
disk, and any later equi-join/aggregation on the bucket keys reads
both sides pre-partitioned — zero exchange in the plan (verified by
``plans.explain.num_exchanges``).

Cluster notes: bucket counts should match across join partners and be
a multiple of parallelism; bucketed tables live in the session catalog
(persistent with a metastore in production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, SparkSession

from ..dataframe import DataFrame

__all__ = ["write_bucketed", "read_bucketed", "bucketed_join"]


def write_bucketed(
    df: SparkDF | DataFrame,
    table_name: str,
    bucket_keys: str | list[str],
    num_buckets: int = 32,
    sort_keys: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) catalog table. A
    sorted bucketed table additionally removes the sort from
    sort-merge joins on the same keys."""
    sdf = df.sdf if isinstance(df, DataFrame) else df
    keys = [bucket_keys] if isinstance(bucket_keys, str) else list(bucket_keys)
    w = sdf.write.mode(mode).bucketBy(num_buckets, *keys)
    if sort_keys:
        sk = [sort_keys] if isinstance(sort_keys, str) else list(sort_keys)
        w = w.sortBy(*sk)
    w.format("parquet").saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return DataFrame(spark.table(table_name))


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket keys. With matching
    bucket counts Spark plans a SortMergeJoin with NO exchange on
    either side."""
    on = [on] if isinstance(on, str) else list(on)
    left = spark.table(left_table)
    right = spark.table(right_table)
    return DataFrame(left.join(right, on=on, how=how))
