"""Fixed-iteration PageRank in EXACT integer micro-units — iterative
graph analytics on DataFrames, the rank-propagation counterpart to
``dedup.connected_components``'s label propagation.

Why integers: float PageRank sums contributions in partition order, so
two runs (or two engines) disagree in the last ulps and a rank-based
oracle can flip. Here ranks live in micro-units (start 1e6), each edge
contributes ``floor(rank / out_degree)``, and the damping update is
rational — ``floor((1-d)) + floor(d * S)`` with ``d = 17/20`` computed
as ``(17 * S) // 20`` — all int64, so every iteration is bit-identical
at any partitioning and the DuckDB oracle can unroll the same
recurrence. (Floor truncation leaks ≤1 micro-unit per edge per
iteration — a rounding model, like fixed-point PageRank on GPUs, not
an approximation of the graph.)

Scale shape: out-degrees are joined into the edge list ONCE and the
result persisted + hash-partitioned on ``src``; each iteration is then
one co-partitioned join (ranks shuffle to the edges' layout — the
edges, the big side, never move again) plus one groupBy(dst) — the
canonical 2-shuffle-per-iteration distributed PR. Iterations are
``localCheckpoint``-ed past the default to cut the growing lineage
(the connected_components lesson). Dangling nodes (no out-edges) keep
receiving mass but redistribute none — the standard simplification;
callers who need mass conservation add a sink edge per dangling node.

Why persist, not per-iteration eager checkpoints (r12 experiment,
ROOT-CAUSED r13 — the round-13 checkpoint repro and its artifact
are in git at commit 54701ba): each eager checkpoint is a
synchronous job barrier that waits on its slowest task, so k chained
checkpoints pay k ADDITIVE straggler tails under host contention
(measured chained/persist ratio 1.37x idle -> 2.48x with a competitor
JVM; the r12 in-sweep 4x was this curve's far end), while the persist
plan's single lazy action overlaps all the work. The 34-exchange
static plan is lineage INLINING only — runtime executes 2
shuffles/iteration with persist dedup. Checkpoints earn their barrier
only where they deduplicate an expensive multi-consumer subtree
(``graph.triangle_count``'s single checkpoint, 156->16 exchanges),
never per-iteration on a cheap rank vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["pagerank", "pagerank_sql"]

MICRO = 1_000_000


def pagerank(edges: SparkDF, src_col: str = "src", dst_col: str = "dst",
             iterations: int = 3, damping_num: int = 17,
             damping_den: int = 20, checkpoint_every: int = 4) -> SparkDF:
    """``(node, rank_micro)`` after ``iterations`` rounds over the
    DIRECTED edge list (pass both directions for an undirected walk).
    Duplicate edges are collapsed first (multi-edges would double
    mass). ``damping_num/damping_den`` is the rational damping factor
    (default 17/20 = 0.85)."""
    from pyspark import StorageLevel

    # pin the deduped edge list FIRST: nodes (2 union branches), deg,
    # and ed all re-derive from it — without the persist the caller's
    # edge lineage (often a join) re-executes once per consumer
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
               .distinct()
               .persist(StorageLevel.MEMORY_AND_DISK))
    # distinct/groupBy/join leave the pinned tables HASH-PARTITIONED
    # on their join keys already (node / src) — no explicit
    # repartition needed, and adding one would just pin an extra
    # full-width exchange into the persisted lineage
    nodes = (e.select(F.col("src").alias("node"))
              .union(e.select(F.col("dst").alias("node")))
              .distinct()
              .persist(StorageLevel.MEMORY_AND_DISK))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = (e.join(deg, "src")
           .persist(StorageLevel.MEMORY_AND_DISK))
    base = F.lit(((damping_den - damping_num) * MICRO) // damping_den)
    ranks = nodes.select("node", F.lit(MICRO).alias("rank_micro"))
    for i in range(iterations):
        # shuffle_hash on both per-iteration joins: rank vectors are
        # join-once streams — the sort-merge default would sort the
        # (bigger) edge side every iteration for no reuse
        # pure int64 arithmetic: SQL `DIV` is exact integral division
        # (== DuckDB `//` on the nonnegative values here), unlike
        # floor(a / b) whose double intermediate rounds once
        # `damping_num * S` exceeds 2^53. Exact until
        # damping_num * S overflows int64 — S ≤ total mass ≈
        # n·1e6 micro-units, so valid to ~5e11 nodes.
        contribs = (ed.join(ranks.withColumnRenamed("node", "src")
                                 .hint("shuffle_hash"), "src")
                      .select("dst",
                              F.expr("rank_micro DIV deg").alias("c"))
                      .groupBy("dst")
                      .agg(F.sum("c").alias("s")))
        ranks = (nodes.join(contribs.withColumnRenamed("dst", "node")
                                    .hint("shuffle_hash"),
                            "node", "left")
                 .select("node",
                         (base + F.expr(
                             f"({damping_num} * coalesce(s, 0L))"
                             f" DIV {damping_den}")).alias("rank_micro")))
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    ranks._cps_persisted = [e, nodes, ed]  # see dedup.release()
    return ranks


def pagerank_sql(edges_sql: str, iterations: int = 3,
                 damping_num: int = 17, damping_den: int = 20) -> str:
    """DuckDB twin: the recurrence unrolled ``iterations`` times over
    ``edges_sql`` (a query yielding ``src, dst``). Integer arithmetic
    matches :func:`pagerank` exactly: DuckDB's ``//`` and Spark's
    ``DIV`` are both exact int64 division, identical on the
    nonnegative operands here — no double intermediate anywhere, so
    the match holds past 2^53."""
    base = ((damping_den - damping_num) * MICRO) // damping_den
    parts = [f"""
        WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
        nodes AS (
            SELECT src AS node FROM e
            UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
        r0 AS (SELECT node, CAST({MICRO} AS BIGINT) AS rank_micro
               FROM nodes)"""]
    for i in range(iterations):
        parts.append(f""",
        c{i + 1} AS (
            SELECT ed.dst AS node,
                   sum(r{i}.rank_micro // ed.deg) AS s
            FROM ed JOIN r{i} ON r{i}.node = ed.src
            GROUP BY ed.dst),
        r{i + 1} AS (
            SELECT n.node,
                   CAST({base} + ({damping_num} * COALESCE(c.s, 0))
                        // {damping_den} AS BIGINT) AS rank_micro
            FROM nodes n LEFT JOIN c{i + 1} c USING (node))""")
    parts.append(f"""
        SELECT node, rank_micro FROM r{iterations}""")
    return "".join(parts)
