"""Greedy k-center coreset selection (Gonzalez 1985; the "k-Center
Greedy" of Sener & Savarese 2018's active-learning coreset) — pick
the k points that best COVER an embedding corpus, i.e. iteratively
take the point farthest from everything chosen so far.

This is the data-selection primitive for "diverse subset" jobs:
seeding labeling budgets, picking prototype documents per corpus,
initializing codebooks, and building the farthest-point subsets that
dataset-distillation methods start from. It is a 2-approximation to
the optimal k-center cover — the classic guarantee — and, unlike
uniform sampling, it never leaves a dense far-away mode uncovered.

EXACT + deterministic, per repo doctrine: vectors quantize to integer
units (``floor(x·scale)``, the kmeans convention), all distances are
int64 sums of squared integer differences, the seed is the smallest
id, and every argmax tie-breaks to the smallest id — same selection
on any partitioning, any engine. The DuckDB oracle replays the full
greedy loop as unrolled materialized CTE chains (the kmeans-oracle
pattern, kmeans.py:179).

Scale design: with ``train_cap`` set (the path for large corpora),
selection runs driver-side in numpy on the ``train_cap``-bounded
sample — the collect is bounded by construction, exactly like the
k·d center literals, and the alternative (one Spark job per greedy
round on a 256-row cached sample) was measured at 0.87 s/ROUND at
sf0.1: pure per-round plan-compile cost, because round i's plan
inlines i zip_with/aggregate HOF distance folds and whole-stage
codegen recompiles the growing expression every round (the r13
HOF-codegen lesson, SCALING.md). Without ``train_cap`` the loop
stays distributed but maintains an INCREMENTAL persisted
min-distance column — round i computes one ``least(mind, dist2(qv,
new_center))`` instead of re-evaluating all i centers, so the
per-round plan is constant-size (O(k·n·d) total work, not O(k²·n·d),
and constant codegen). Either way the round's winner is a single
``max(struct)`` partial-aggregated reduce — no sort, no shuffle of
the data — and the full-corpus assignment pass is one scan-local
aggregation whose k·d center literals ride in codegen. The
guarantee under sampling degrades gracefully to the sample's cover.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF, functions as F

from ..session import tiny_df

from .kmeans import _quantize, _train_sample, train_sample_order_sql

__all__ = ["kcenter_select", "kcenter_select_sql"]


def _dist2(vec_col: Column, center: list[int]) -> Column:
    """int64 squared distance between a quantized array column and a
    literal quantized center."""
    lit = F.array(*[F.lit(int(v)).cast("long") for v in center])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def kcenter_select(df: SparkDF, vec_col: str, id_col: str, k: int,
                   scale: int = 1000,
                   train_cap: int | None = None) -> SparkDF:
    """Select ``k`` centers by greedy farthest-point and return the
    coverage profile: ``(rank, center_id, sel_r2, n_assigned,
    max_r2)`` — selection order, the distance² at which each center
    was chosen (how uncovered its region was; 0 for the seed), and
    the post-hoc cell size / radius when every point is assigned to
    its nearest center (ties → earliest-rank center).

    ``max(max_r2)`` is the cover radius² — the quantity k-center
    minimizes; the greedy result is within 2× of optimal (Gonzalez).

    ``train_cap`` runs SELECTION on the deterministic hash-ordered
    sample (kmeans' ``_train_sample``); assignment still covers the
    full corpus in one pass.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark import StorageLevel

    q = df.select(F.col(id_col).alias("id"),
                  _quantize(vec_col, scale).alias("qv"))
    q = q.persist(StorageLevel.MEMORY_AND_DISK)

    persisted = [q]
    if train_cap is not None:
        # Selection on the bounded sample runs DRIVER-SIDE: the
        # collect is capped at train_cap rows by construction (the
        # same boundedness argument as the k·d center literals), and
        # a numpy greedy loop replaces k−1 Spark jobs whose cost was
        # measured to be per-round codegen compilation, not data
        # (0.87 s/round on 256 cached rows at sf0.1 — see module
        # docstring). Integer-exact: int64 throughout, seed = min
        # id, argmax ties to the FIRST index of the id-ascending
        # order = smallest id — bit-identical to the distributed
        # path and the DuckDB oracle.
        import numpy as np
        rows = _train_sample(q, "id", train_cap).collect()
        if not rows:
            raise ValueError("empty corpus")
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        vecs = np.array([r["qv"] for r in rows], dtype=np.int64)
        order = np.argsort(ids)  # ids unique: plain argsort is stable here
        ids, vecs = ids[order], vecs[order]
        centers = [(int(ids[0]), [int(v) for v in vecs[0]])]
        sel_r2 = [0]
        mind = ((vecs - vecs[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            j = int(np.argmax(mind))  # first max = smallest id
            centers.append((int(ids[j]), [int(v) for v in vecs[j]]))
            sel_r2.append(int(mind[j]))
            np.minimum(mind, ((vecs - vecs[j]) ** 2).sum(axis=1),
                       out=mind)
    else:
        # Full-corpus selection stays distributed; the min-distance
        # column is INCREMENTAL (least(mind, dist2 to the one new
        # center), re-persisted per round) so every round's plan is
        # constant-size — O(k·n·d) total, constant codegen — instead
        # of re-evaluating all i prior centers' HOF folds (O(k²·n·d)
        # and a recompile of a growing expression each round).
        seed = q.orderBy("id").limit(1).collect()
        if not seed:
            raise ValueError("empty corpus")
        centers = [(int(seed[0]["id"]), [int(v) for v in seed[0]["qv"]])]
        sel_r2 = [0]
        cur = q.select("id", "qv",
                       _dist2(F.col("qv"), centers[0][1]).alias("mind")) \
               .persist(StorageLevel.MEMORY_AND_DISK)
        prev = None
        for i in range(1, k):
            # ONE bounded aggregate per round: max by (distance, then
            # SMALLEST id) — encoded as max(struct(dist, -id, vec)) so
            # ties resolve to min id and the winner's vector rides
            # along (id is unique, so the array never gets compared).
            # This action materializes cur's cache; only then is the
            # previous round's cache dropped (nxt below reads cur's
            # CACHE — unpersisting earlier would re-chain lineage).
            far = (cur.agg(F.max(F.struct(F.col("mind").alias("d"),
                                          (-F.col("id")).alias("nid"),
                                          F.col("qv"))).alias("m"))
                      .select(F.col("m.d").alias("d"),
                              (-F.col("m.nid")).alias("id"),
                              F.col("m.qv").alias("qv"))
                      .collect()[0])
            if prev is not None:
                prev.unpersist()
            centers.append((int(far["id"]), [int(v) for v in far["qv"]]))
            sel_r2.append(int(far["d"]))
            if i < k - 1:
                nxt = cur.select(
                    "id", "qv",
                    F.least(F.col("mind"),
                            _dist2(F.col("qv"), centers[-1][1]))
                     .alias("mind")) \
                    .persist(StorageLevel.MEMORY_AND_DISK)
                prev, cur = cur, nxt
        cur.unpersist()

    # assignment pass over the FULL corpus: nearest center, ties to
    # the earliest rank — least(struct(dist, rank)) lexicographic
    cand = F.array(*[
        F.struct(_dist2(F.col("qv"), c).alias("d"),
                 F.lit(r).cast("int").alias("rank"))
        for r, (_, c) in enumerate(centers)])
    best = F.array_min(cand)
    assigned = (q.select(best.getField("rank").alias("rank"),
                         best.getField("d").alias("d"))
                 .groupBy("rank")
                 .agg(F.count(F.lit(1)).alias("n_assigned"),
                      F.max("d").alias("max_r2")))
    meta = tiny_df(
        df.sparkSession,
        [(r, cid, s) for r, ((cid, _), s)
         in enumerate(zip(centers, sel_r2))],
        "rank int, center_id long, sel_r2 long")
    out = (meta.join(assigned, "rank", "left")
               .select("rank", "center_id", "sel_r2",
                       F.coalesce("n_assigned", F.lit(0))
                        .cast("long").alias("n_assigned"),
                       F.coalesce("max_r2", F.lit(0)).cast("long")
                        .alias("max_r2")))
    out._cps_persisted = persisted
    return out


def kcenter_select_sql(t: str, vec_expr: str, id_expr: str, dim: int,
                       k: int, scale: int = 1000,
                       train_cap: int | None = None) -> str:
    """DuckDB replay of :func:`kcenter_select`: the same
    quantization, seed, per-round argmax (DESC distance, ASC id), and
    final nearest-center assignment, as unrolled MATERIALIZED CTEs —
    one ``c{i}`` centers table per greedy round (without MATERIALIZED
    DuckDB inlines the chain and the plan explodes exponentially:
    measured 191 s -> <1 s at sf0.01; same lesson as the k-core
    oracle, operators/graph.py:135)."""
    qcols = ", ".join(
        f"CAST(FLOOR(CAST({vec_expr}[{d + 1}] AS DOUBLE) * {scale}) "
        f"AS BIGINT) AS q{d}" for d in range(dim))
    dist = " + ".join(
        f"(q.q{d} - c.q{d}) * (q.q{d} - c.q{d})" for d in range(dim))
    parts = []
    sel_src = t
    if train_cap is not None:
        parts.append(
            f"ktrain AS MATERIALIZED (SELECT * FROM {t} ORDER BY "
            f"{train_sample_order_sql(id_expr)} LIMIT {train_cap})")
        sel_src = "ktrain"
    parts.append(
        f"qf AS MATERIALIZED (SELECT {id_expr} AS id, {qcols} FROM {t})")
    parts.append(
        f"q AS MATERIALIZED (SELECT {id_expr} AS id, {qcols} FROM {sel_src})")
    qlist = ", ".join(f"q{d}" for d in range(dim))
    qqual = ", ".join(f"q.q{d}" for d in range(dim))
    parts.append(
        f"c0 AS MATERIALIZED (SELECT 0 AS rank, id, CAST(0 AS BIGINT) AS sel_r2, "
        f"{qlist} FROM (SELECT * FROM q ORDER BY id LIMIT 1))")
    for i in range(1, k):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT q.id, min({dist}) AS d "
            f"FROM q CROSS JOIN c{i - 1} c GROUP BY q.id)")
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT id, d FROM d{i} "
            f"ORDER BY d DESC, id ASC LIMIT 1)")
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT * FROM c{i - 1} UNION ALL "
            f"SELECT {i} AS rank, q.id, p.d AS sel_r2, {qqual} "
            f"FROM q JOIN p{i} p ON q.id = p.id)")
    last = f"c{k - 1}"
    return f"""
        WITH {', '.join(parts)},
        assign AS (
            SELECT q.id, c.rank AS rank, {dist} AS d,
                   row_number() OVER (PARTITION BY q.id
                                      ORDER BY {dist}, c.rank) AS rn
            FROM qf q CROSS JOIN {last} c),
        cells AS (
            SELECT rank, CAST(count(*) AS BIGINT) AS n_assigned,
                   CAST(max(d) AS BIGINT) AS max_r2
            FROM assign WHERE rn = 1 GROUP BY rank)
        SELECT c.rank, c.id AS center_id, c.sel_r2,
               COALESCE(l.n_assigned, 0) AS n_assigned,
               COALESCE(l.max_r2, 0) AS max_r2
        FROM {last} c LEFT JOIN cells l ON c.rank = l.rank
    """
