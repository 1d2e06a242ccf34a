"""Drop-in module-level API matching the reference client's UX.

The reference is used as::

    import charmpandas as cpd
    cpd.activate(cpd.LocalCluster(4))       # interface.py:431-502
    df = cpd.read_parquet("data/user_ids.*")  # operations.py:3-4
    df2 = cpd.concat([df, df])                # operations.py:6-11
    df["x"] = df["a"] + 2 * df["b"]
    out = df.merge(df2, on=["k"]).groupby("city")["user_id"].count()
    out.get()                                  # pandas

This module reproduces that surface 1:1 on Spark: a process-global
session replaces the CCS connection, ``LocalCluster`` maps to
``local[n]``, and elastic SLURM rescale (reference
interface.py:445-540) maps to Spark dynamic allocation — expressed as
cluster conf rather than hand-rolled job scripts.

    import charmpandas_spark.compat as cpd
    cpd.activate(cpd.LocalCluster(4))   # optional; auto local[*]
    df = cpd.read_parquet("/data/part-.*\\.parquet")
    df.get()
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import operations
from .dataframe import DataFrame
from .session import get_spark

__all__ = ["LocalCluster", "SparkCluster", "activate", "get_session",
           "read_parquet", "concat", "DataFrame"]

_session: SparkSession | None = None


class LocalCluster:
    """Reference ``LocalCluster(odf=4, min_pes=..., max_pes=...)``
    (charmpandas/interface.py:445-453): a local pool of PEs. Here:
    ``local[n]`` threads; ``odf`` (over-decomposition) maps to the
    shuffle-partition multiple AQE coalesces from."""

    def __init__(self, n_workers: int | None = None, odf: int = 4):
        self.n_workers = n_workers
        self.odf = odf

    def build(self) -> SparkSession:
        import os
        n = self.n_workers or int(os.environ.get("SPARK_GRAFT_CPUS")
                                  or os.cpu_count() or 1)
        return get_spark(master=f"local[{n}]",
                         shuffle_partitions=n * self.odf)


class SparkCluster:
    """Elastic-cluster stand-in for the reference ``SLURMCluster``
    (interface.py:491-540): submits nothing — on Spark, elasticity is
    ``spark.dynamicAllocation.*`` against an existing cluster manager
    (YARN/K8s/standalone)."""

    def __init__(self, master: str, min_executors: int = 1,
                 max_executors: int = 64, **conf: str):
        self.master = master
        self.conf = {
            "spark.dynamicAllocation.enabled": "true",
            "spark.dynamicAllocation.minExecutors": str(min_executors),
            "spark.dynamicAllocation.maxExecutors": str(max_executors),
            "spark.dynamicAllocation.shuffleTracking.enabled": "true",
            **conf,
        }

    def build(self) -> SparkSession:
        return get_spark(master=self.master, extra_conf=self.conf)


def activate(cluster=None) -> SparkSession:
    """Reference ``activate(cluster)``: bind the module-global
    execution context (replaces the CCS socket connect)."""
    global _session
    _session = cluster.build() if cluster is not None else get_spark()
    return _session


def get_session() -> SparkSession:
    global _session
    if _session is None:
        _session = get_spark()
    return _session


def read_parquet(path, columns=None) -> DataFrame:
    """Module-level regex-path parquet read (operations.py:3-4)."""
    return operations.read_parquet(get_session(), path, columns)


def concat(dfs) -> DataFrame:
    """Module-level union-all (operations.py:6-11)."""
    return operations.concat(dfs)
