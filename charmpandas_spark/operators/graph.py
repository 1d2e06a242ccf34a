"""Triangle counting over an undirected edge list.

The third leg of the graph-analytics family (after
:mod:`.pagerank` and the min-label connected components inside
``dedup_clusters``): triangle count is the standard clustering /
community-density statistic, and the standard "does your engine
handle the quadratic wedge blow-up" benchmark.

Algorithm: the degree-oriented node-iterator (Schank & Wagner 2005;
the "compact-forward" of Latapy 2008). Every undirected edge is
oriented from its lower-(degree, id) endpoint to the higher one,
turning the graph into a DAG where every node's out-degree is
O(sqrt(m)). Wedges (u→v, u→w) are generated per source and closed
against the oriented edge set — each triangle is counted exactly
once (its minimum-(degree, id) vertex generates the wedge).

Plan shape: three hash exchanges — edges by src for
wedge generation (a self-join Catalyst executes as ONE shuffle read
both sides), wedges by (v, w) against oriented edges for closure, and
the degree aggregation. The orientation is what makes this survive
scale: without it a single hub of degree d fans out d² wedges; with
it the per-node fan-out is bounded by O(sqrt(m)) and total wedge
volume by O(m^{3/2}) — the proven optimum for exact counting. AQE
splits whatever skew remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["triangle_count", "k_core", "k_core_sql"]


def triangle_count(edges: SparkDF, src: str = "src",
                   dst: str = "dst") -> SparkDF:
    """Count triangles in the undirected graph given by ``edges``.

    Edge direction, duplicate edges and self-loops are normalized
    away first. Returns ONE row: ``(n_nodes, n_edges, n_triangles)``
    — nodes are edge endpoints (isolated vertices are not the edge
    list's business).
    """
    a, b = F.col(src), F.col(dst)
    # EAGER localCheckpoint, not persist: the edge subtree (often an
    # expensive similarity join, ~20 exchanges) is referenced by
    # degrees (x2), orientation, closure and the edge count — persist
    # dedups the RUNTIME work but leaves the lineage inlined at every
    # reference (measured: a 156-exchange static plan for the
    # ngram-join edge producer; same pathology the CC loop documents
    # at dedup.py:610). Checkpointing runs the producer once and
    # gives every downstream leg a materialized, lineage-free copy.
    # TRACKED (ADVICE r12): the handle rides on the result so
    # release() frees the blocks deterministically in long sessions
    # instead of waiting for RDD GC; see tracked_local_checkpoint's
    # docstring for the executor-loss trade on real clusters.
    from charmpandas_spark.functions.dedup import (
        tracked_local_checkpoint)

    und, _und_handle = tracked_local_checkpoint(
        edges.select(F.least(a, b).alias("a"),
                     F.greatest(a, b).alias("b"))
             .where(F.col("a") != F.col("b"))
             .distinct())
    deg = (und.select(F.col("a").alias("v"))
              .unionAll(und.select(F.col("b").alias("v")))
              .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    # orient low-(deg, id) -> high-(deg, id)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    lower_first = ((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))))
    oriented = (und.join(da, "a").join(db, "b")
                   .select(F.when(lower_first, F.col("a"))
                            .otherwise(F.col("b")).alias("u"),
                           F.when(lower_first, F.col("b"))
                            .otherwise(F.col("a")).alias("w")))
    e1 = oriented.select(F.col("u"), F.col("w").alias("v"))
    e2 = oriented.select(F.col("u"), F.col("w"))
    # wedge pair canonicalized by VALUE so it joins the canonical
    # undirected edge set regardless of how {v, w} is oriented
    wedges = (e1.join(e2, "u")
                .where(F.col("v") < F.col("w"))
                .select("v", "w"))
    closed = wedges.join(
        und.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"])
    n_tri = closed.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = n_nodes.crossJoin(n_edges).crossJoin(n_tri)
    out._cps_persisted = [_und_handle]  # see dedup.release()
    return out


def k_core(edges: SparkDF, k: int = 2, iterations: int = 6,
           src: str = "src", dst: str = "dst") -> SparkDF:
    """Extract the k-core (maximal subgraph where every node has
    degree >= k) by ``iterations`` rounds of synchronous peeling:
    drop all nodes of degree < k, restrict the edge set, repeat.

    Returns ONE row ``(n_nodes, n_edges, converged)`` — ``converged``
    is computed from the FINAL graph (no surviving node is below k),
    so a fixed iteration budget stays honest: if peeling hasn't
    reached the fixed point the flag says so in the hashed output.

    Scale: each round is two hash exchanges (degree count on node,
    semi-join back on each endpoint) over a monotonically SHRINKING
    edge set; ``localCheckpoint`` truncates the growing loop lineage
    exactly like the min-label connected-components loop. Real
    deployments size ``iterations`` to the graph's degeneracy-peel
    depth — social/web/similarity graphs fix-point in a handful of
    rounds because peeling cascades are shallow.
    """
    from charmpandas_spark.functions.dedup import (
        tracked_local_checkpoint)

    a, b = F.col(src), F.col(dst)
    # tracked checkpoints (ADVICE r12): every round's blocks ride on
    # the result for deterministic release(); see triangle_count.
    handles = []
    cur, h = tracked_local_checkpoint(
        edges.select(F.least(a, b).alias("a"),
                     F.greatest(a, b).alias("b"))
             .where(F.col("a") != F.col("b"))
             .distinct())
    handles.append(h)
    for _ in range(iterations):
        deg = (cur.select(F.col("a").alias("v"))
                  .unionAll(cur.select(F.col("b").alias("v")))
                  .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.where(F.col("deg") >= k).select("v")
        cur, h = tracked_local_checkpoint(
            cur.join(keep.withColumnRenamed("v", "a"), "a",
                     "left_semi")
               .join(keep.withColumnRenamed("v", "b"), "b",
                     "left_semi")
               .select("a", "b"))
        handles.append(h)
    deg = (cur.select(F.col("a").alias("v"))
              .unionAll(cur.select(F.col("b").alias("v")))
              .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.min("deg"), F.lit(k)).alias("__mindeg"))
    n_edges = cur.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = (stats.crossJoin(n_edges)
                .select("n_nodes", "n_edges",
                        (F.col("__mindeg") >= k).alias("converged")))
    out._cps_persisted = handles  # see dedup.release()
    return out


def k_core_sql(edges_sql: str, k: int = 2, iterations: int = 6) -> str:
    """DuckDB twin of :func:`k_core` as a CTE-chain fragment (the
    peel loop unrolled, each stage MATERIALIZED because DuckDB
    inlines multiply-referenced CTEs). ``edges_sql`` must yield the
    canonical distinct (a, b) edge list; the caller splices this
    after its own WITH clauses."""
    parts = [f"e0 AS MATERIALIZED ({edges_sql})"]
    for i in range(iterations):
        parts.append(f"""d{i} AS MATERIALIZED (
            SELECT v, count(*) AS deg FROM (
                SELECT a AS v FROM e{i} UNION ALL SELECT b FROM e{i})
            GROUP BY v)""")
        parts.append(f"""e{i + 1} AS MATERIALIZED (
            SELECT a, b FROM e{i}
            WHERE a IN (SELECT v FROM d{i} WHERE deg >= {k})
              AND b IN (SELECT v FROM d{i} WHERE deg >= {k}))""")
    t = iterations
    parts.append(f"""dfin AS MATERIALIZED (
        SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM e{t} UNION ALL SELECT b FROM e{t})
        GROUP BY v)""")
    final = (f"SELECT (SELECT CAST(count(*) AS BIGINT) FROM dfin) "
             f"AS n_nodes, "
             f"(SELECT CAST(count(*) AS BIGINT) FROM e{t}) AS n_edges, "
             f"coalesce((SELECT min(deg) FROM dfin), {k}) >= {k} "
             f"AS converged")
    return ",\n".join(parts) + "\n" + final
