"""IVF (inverted-file) approximate nearest neighbor — the k-means
coarse-quantizer scale path, complementing the hyperplane-LSH variant
in similarity.py.

Build: cluster the corpus into ``nlist`` centroids (Spark ML KMeans,
seeded/deterministic), assign every vector to its nearest centroid
(the "inverted list"). Search: score the query against centroids
only, then run the exact cosine top-k inside the ``nprobe`` closest
lists. :func:`ivf_write` writes the inverted lists partitioned by
centroid id, so a query reads nprobe/nlist of the data (partition
pruning), and the centroid table (nlist x dim) broadcasts anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

from .similarity import cosine_topk

__all__ = ["ivf_build", "ivf_assign", "ivf_append", "ivf_search",
           "ivf_write", "ivf_read_search"]


def ivf_build(
    df: SparkDF,
    vec_col: str,
    id_col: str,
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 10,
):
    """Fit the coarse quantizer and assign inverted lists.

    Returns ``(assigned_df, centroids)``: the input with a
    ``__cps_list`` centroid id column, and the centroid vectors as a
    Python list (small: nlist x dim — broadcastable as literals).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("__cps_feat",
                         array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=nlist, seed=seed, maxIter=max_iter,
                featuresCol="__cps_feat", predictionCol="__cps_list")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__cps_feat")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: SparkDF,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> SparkDF:
    """Exact cosine top-k restricted to the ``nprobe`` inverted lists
    whose centroids are closest (by cosine) to the query."""
    import math

    qn = math.sqrt(sum(q * q for q in query_vec)) or 1.0

    def cent_score(c):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(q * x for q, x in zip(query_vec, c)) / (qn * cn)

    probes = sorted(range(len(centroids)),
                    key=lambda i: -cent_score(centroids[i]))[:nprobe]
    cand = assigned.filter(F.col("__cps_list").isin(probes)) \
                   .drop("__cps_list")
    return cosine_topk(cand, vec_col, id_col, query_vec, k)


def ivf_assign(
    df: SparkDF,
    vec_col: str,
    centroids: list[list[float]],
) -> SparkDF:
    """Assign each vector to its nearest centroid (squared-Euclidean
    argmin, first-min tie-break) WITHOUT refitting: the frozen-
    codebook half of incremental IVF ingestion. Matches MLlib's
    ``model.transform`` on non-degenerate data; MLlib's findClosest
    uses norm-based fastSquaredDistance (different floating-point
    rounding plus a lower-bound skip), so vectors that are near-exact
    TIES between two centroids can land in a different list — the
    guaranteed invariants are full-probe correctness and
    pruned-search equivalence, not bit-level assignment parity
    (ADVICE r15). The centroid table
    rides as one broadcast ``array<array<double>>`` row; distances
    are scan-local ``transform``/``aggregate`` HOFs, so assignment is
    a zero-shuffle map over the batch whatever ``nlist`` is."""
    from ..session import tiny_df

    spark = df.sparkSession
    cb = F.broadcast(tiny_df(
        spark, [([[float(x) for x in c] for c in centroids],)],
        "__cps_icb array<array<double>>"))
    darr = F.transform(
        F.col("__cps_icb"),
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), c,
                       lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0.0), lambda a, t: a + t))
    return (df.crossJoin(cb)
              .withColumn("__cps_ida", darr)
              .withColumn("__cps_list",
                          (F.array_position(
                              "__cps_ida",
                              F.array_min("__cps_ida")) - 1)
                          .cast("int"))
              .drop("__cps_icb", "__cps_ida"))


def ivf_append(
    df: SparkDF,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
) -> None:
    """Incremental IVF ingestion: assign a new batch under the FROZEN
    coarse quantizer and append its rows to the partitioned inverted
    lists at ``path``. This is the standard ANN ingestion regime —
    the codebook is trained once (or re-trained offline on drift,
    see ``embedding_drift``) and ingestion is assignment + append;
    partition pruning for searches is untouched because the batch
    lands in the same ``__cps_list=`` directory layout. Searching
    the updated index with frozen centroids is EXACTLY equivalent to
    having assigned the union in one pass (same argmin, same lists),
    which is what the ``sim_ivf_incremental`` oracle gates via the
    full-probe == exact-top-k identity."""
    (ivf_assign(df, vec_col, centroids)
     .write.mode("append").partitionBy("__cps_list").parquet(path))


def ivf_write(assigned, path: str, mode: str = "overwrite") -> None:
    """Materialize the inverted lists PARTITIONED BY centroid id —
    one directory per list. This is the on-disk half of the IVF
    claim: a search filtered to ``nprobe`` lists prunes whole
    partitions at planning time, so a query reads nprobe/nlist of
    the bytes whatever the corpus size
    (``tests/test_sketches_asof.py::test_ivf_partitioned_scan_prunes``
    asserts the pruning from the scan node, not just argues it)."""
    assigned.write.mode(mode).partitionBy("__cps_list").parquet(path)


def ivf_read_search(
    spark,
    path: str,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> SparkDF:
    """Search a previously ``ivf_write``-materialized index: the
    ``__cps_list IN probes`` predicate lands in the scan's partition
    filters (directory-level pruning — non-probed lists are never
    opened)."""
    return ivf_search(spark.read.parquet(path), centroids, vec_col,
                      id_col, query_vec, k=k, nprobe=nprobe)
