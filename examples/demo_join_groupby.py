"""Port of the reference's Demo.ipynb workload: two-table shuffle
join on string keys + groupby-count + fetch, timed (the reference's
only published number: 10.72 s on 2x2M rows / 32 PEs — BASELINE.md).

Generates the same user_ids/ages schema as examples/datagen.py:5-24.
"""

import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import charmpandas_spark as cps  # noqa: E402

N = int(os.environ.get("DEMO_ROWS", "2000000"))


def generate(tmp: str) -> tuple[str, str]:
    rs = np.random.RandomState(42)
    ids = pd.DataFrame({
        "first_name": [f"A{i}" for i in range(N)],
        "last_name": [f"B{i}" for i in range(N)],
        "user_id": np.arange(N, dtype="int32"),
        "city": [f"C{i % 101}" for i in range(N)],
    })
    perm = rs.permutation(N)
    ages = pd.DataFrame({
        "first_name": ids["first_name"].values[perm],
        "last_name": ids["last_name"].values[perm],
        "age": (np.arange(N) % 100).astype("int32"),
    })
    p1 = os.path.join(tmp, "user_ids.parquet")
    p2 = os.path.join(tmp, "ages.parquet")
    ids.to_parquet(p1)
    ages.to_parquet(p2)
    return p1, p2


def run_workload(spark, verbose: bool = False) -> float:
    """Generate, warm up, run the timed join+groupby+fetch, return
    elapsed seconds — the baseline-comparison workload against the
    reference's published 10.72 s (BASELINE.md).

    Requires a session configured like :func:`main`'s (shuffle-hash
    join forced — no small dimension side in an equal-size 2M x 2M
    string-key join).

    The measurement is steady-state: the
    reference's 10.72 s came from a WARM notebook (cluster up, prior
    cells executed), so pay the one-time JVM/codegen/shuffle-path
    init before the timed region — on SYNTHETIC frames with the same
    SHAPE (string join keys, string groupBy key, count agg, pandas
    fetch), so the JVM's C2 compilation of the string-hash/shuffle/
    Arrow paths lands in the warmup, not the measurement (r8: a
    long-key warmup left ~1 s of string-path JIT inside the timed
    region). None of the measured tables are touched or cached."""
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        if verbose:
            print(f"generating 2x{N} rows ...")
        p1, p2 = generate(tmp)
        df_ids = cps.read_parquet(spark, p1)
        df_ages = cps.read_parquet(spark, p2)

        w1 = spark.range(0, 200_000, 1, 32).select(
            F.concat(F.lit("A"), F.col("id")).alias("first_name"),
            F.concat(F.lit("B"), F.col("id")).alias("last_name"),
            (F.col("id") % 101).cast("int").alias("age"))
        w2 = spark.range(0, 200_000, 1, 32).select(
            F.concat(F.lit("A"), F.col("id")).alias("first_name"),
            F.concat(F.lit("B"), F.col("id")).alias("last_name"),
            F.col("id").cast("int").alias("user_id"),
            F.concat(F.lit("C"), (F.col("id") % 101)).alias("city"))
        (w1.join(w2, ["first_name", "last_name"])
           .groupBy("city").agg(F.count("user_id")).toPandas())

        t0 = time.time()
        joined = df_ages.merge(df_ids, on=["first_name", "last_name"],
                               how="inner")
        counts = joined.groupby("city")["user_id"].count()
        result = counts.get()
        elapsed = time.time() - t0
        total = int(result["count(user_id)"].sum())
        if verbose:
            print(result.head(10).to_string())
            print(f"Total time = {elapsed:.6f}s  (cities={len(result)},"
                  f" sum(counts)={total})")
        assert total == N
    return elapsed


def main():
    # Workload-shaped join strategy (r8): this is a join of two
    # EQUAL-SIZE 2M-row tables — there is no small dimension side, so
    # Catalyst's broadcast pick (both sides sit under the engine's
    # aggressive 64 MB star-schema threshold) builds a 2M-row string
    # hash relation mostly single-threaded and loses to a
    # co-partitioned shuffle-hash join across 32 threads. Measured
    # single-shot after identical warmup: broadcast 3.9-4.5 s,
    # shuffle SMJ 2.4 s, shuffle-hash ~2.3 s (warm best-of-2 1.3 s).
    # The same shape at cluster scale reaches the same conclusion for
    # the opposite reason: a 2M-row broadcast ships to every executor.
    spark = cps.get_spark(extra_conf={
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "false",
    })
    run_workload(spark, verbose=True)
    spark.stop()


if __name__ == "__main__":
    main()
