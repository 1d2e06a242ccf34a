"""Skew-mitigation join strategies.

The reference's skew story is a global bucket histogram + greedy
least-loaded PE assignment (src/partition.cpp:1444-1482). On Spark,
AQE's skew-join split (`spark.sql.adaptive.skewJoin`) handles most
skew at runtime; this module adds the two explicit techniques for the
cases AQE can't fix:

- ``salted_join``: salt the skewed side N ways, explode the build
  side N ways, join on (key, salt). N× replication of the build side
  buys N-way parallelism on the hot key.
- ``broadcast_join``: force the planner when statistics mislead it.

MEASURED CROSSOVER (the legacy sweep's ``skew_demo``, r9/r10, in
git at commit 54701ba: 10M-row fact, one
key = 95% of rows, broadcast disabled, local[32]): AQE's runtime
split equalizes the straggler better than salting pays for itself —
skew-blind 6.4 s / max-task 4.3 s, AQE split 4.7 s / 2.9 s, salted
5.5 s / 2.7 s. Salting matches AQE on the straggler (max task) but
loses wall-clock to the ×salt build replication and the extra
exchange. The same ordering held with a same-key aggregation stacked
on the join (partial aggregation collapses the hot key before the
post-join shuffle, so AQE's split is not blocked by the downstream
distribution requirement). So on any Spark with AQE available:
LEAVE IT ON and skip the salt. ``salted_join`` earns its keep when
(a) AQE is off or unavailable (static plans, some serverless
runtimes), (b) the skewed shuffle feeds an operator AQE will not
split — notably a WINDOW partitioned by the hot key has no partial
phase and semantically needs the whole key in one task, where
neither AQE nor salting helps and the fix is a different query shape
(pre-aggregate or bounded windows), or (c) the hot partition is so
large a single split-chunk of ``advisoryPartitionSizeInBytes`` still
spills — tune the advisory size first, salt second.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

from ..dataframe import DataFrame

__all__ = ["salted_join", "broadcast_join"]


def salted_join(
    left: SparkDF | DataFrame,
    right: SparkDF | DataFrame,
    on: str | list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT side salted (use when left has skewed
    keys): left rows get a random salt in [0, salt); the right side is
    replicated once per salt value; the join runs on keys + salt so the
    hot key's rows spread over ``salt`` reducers.

    Correctness: every left row meets every right row with its key
    exactly once (right is replicated across ALL salts). Supported
    ``how``: inner/left (semantics preserved under replication).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left' "
                         "(replication breaks right/outer semantics)")
    lsdf = left.sdf if isinstance(left, DataFrame) else left
    rsdf = right.sdf if isinstance(right, DataFrame) else right
    keys = [on] if isinstance(on, str) else list(on)

    lsalted = lsdf.withColumn(
        "__cps_salt", (F.rand(seed=42) * salt).cast("int"))
    rsalted = rsdf.withColumn(
        "__cps_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = lsalted.join(rsalted, on=keys + ["__cps_salt"], how=how) \
                 .drop("__cps_salt")
    return DataFrame(out)


def broadcast_join(
    left: SparkDF | DataFrame,
    right: SparkDF | DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Force-broadcast the right side (dimension) regardless of the
    size estimate — the explicit form of what
    ``autoBroadcastJoinThreshold`` does automatically."""
    lsdf = left.sdf if isinstance(left, DataFrame) else left
    rsdf = right.sdf if isinstance(right, DataFrame) else right
    keys = [on] if isinstance(on, str) else list(on)
    return DataFrame(lsdf.join(F.broadcast(rsdf), on=keys, how=how))
