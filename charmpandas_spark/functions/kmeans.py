"""Deterministic distributed k-means over embedding columns.

Semantic-clustering building block for corpus curation (bucket a
corpus by embedding cluster, then sample/balance/dedup per cluster).
Complements the IVF coarse quantizer in ivf.py (Spark ML KMeans,
seeded but engine-internal): this variant is **bit-deterministic
across engines**, so the full Lloyd iteration — not just the
plumbing — is value-checked against a DuckDB replay in the oracle
gate.

Determinism design (why every step is exact):

- Inputs are **quantized to integers** (``floor(x * scale)`` as
  BIGINT): integer sums are exact in ANY aggregation order, so the
  shuffle's reduction order can't perturb centroid updates.
- Centroid components are ``CAST(SUM AS DOUBLE) / COUNT`` — one IEEE
  division of exact integers, identical in Spark / DuckDB / Python.
- Distances are explicit LEFT-ASSOCIATED addition chains of
  ``(x_d - c_d) * (x_d - c_d)`` terms (no ``pow``, no ``list_sum``):
  both engines evaluate term-by-term in index order, bit-identically.
- Argmin ties break to the smallest centroid id on both sides
  (strict ``<`` fold here == ``ORDER BY dist, j`` there).
- Init is the ``k`` smallest-``id`` rows; empty clusters keep their
  previous centroid.

Plan shape: each Lloyd iteration is ONE map-side-combined
aggregation over the corpus (the canonical distributed k-means);
centroids (k x dim doubles) travel driver->executors as plan
literals — the only driver-side state, k*dim*8 bytes. The quantized
corpus projection is persisted once and reused by all ``iters + 1``
passes. The per-iteration ``collect()`` is k rows — bounded by k,
not the corpus (same contract as the connected-components
convergence probe).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame as SparkDF, functions as F

from ..session import tiny_df

__all__ = ["kmeans_fit_predict", "kmeans_oracle_sql",
           "kmeans_oracle_parts", "semantic_near_dup",
           "semantic_near_dup_oracle_sql"]


def _quantize(vec_col: str, scale: int) -> Column:
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale).cast("long"))


def _train_sample(q: SparkDF, id_col: str, train_cap: int) -> SparkDF:
    """The ``train_cap`` rows with smallest ``(md5-hash(id), id)`` —
    a DETERMINISTIC, partitioning-independent, cross-engine-
    replayable training sample (DuckDB twin: ``ORDER BY md5-hash(id),
    id LIMIT cap``). ``orderBy().limit()`` plans as TakeOrdered: each
    task keeps a cap-row heap, no global sort — one corpus pass
    bounds codebook training. The repartition spreads the
    (single-partition) limit result back out for the iterated
    aggregations."""
    from .dedup import hash64

    return (q.orderBy(hash64(F.col(id_col).cast("string"), 0,
                             "md5").asc(),
                      F.col(id_col).asc())
             .limit(train_cap)
             .repartition(max(
                 2, q.sparkSession.sparkContext.defaultParallelism)))


def train_sample_order_sql(id_expr: str) -> str:
    """DuckDB ORDER BY twin of :func:`_train_sample`'s sort key."""
    from .dedup import hash64_sql

    return f"{hash64_sql(f'CAST({id_expr} AS VARCHAR)')}, {id_expr}"


def kmeans_fit_predict(
    df: SparkDF,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    train_cap: int | None = None,
    return_centroids: bool = False,
    with_vector: str | None = None,
) -> SparkDF:
    """Lloyd k-means over ``vec_col``; returns ``(id_col, cluster)``
    (or ``(assignments, centroids)`` with ``return_centroids`` —
    centroids are in quantized units, k x dim doubles; IVF-PQ's
    coarse quantizer needs them for residuals). ``with_vector``
    additionally carries the QUANTIZED vector in the assignment
    output under that name, so downstream residual computation needs
    no join back to the corpus.

    ``iters`` full (assign, update) rounds on the quantized vectors,
    then a final assignment under the last centroids. Deterministic:
    same data -> same clustering, on any partitioning, any engine
    (see module docstring). ``scale`` sets quantization granularity
    (1000 => 3 decimal places survive).

    ``train_cap`` bounds TRAINING to a deterministic hash-ordered
    sample of ``min(n, train_cap)`` rows (:func:`_train_sample`);
    the final assignment still covers the full corpus in one
    scan-local pass. Training then costs ``iters`` passes over the
    sample instead of the corpus — the standard k-means regime (init
    comes from the sample too, so the whole fit replays from the
    sample alone).
    """
    from pyspark import StorageLevel

    q = df.select(F.col(id_col).alias("__cps_kid"),
                  _quantize(vec_col, scale).alias("__cps_kq"))
    q = q.persist(StorageLevel.MEMORY_AND_DISK)

    spark = df.sparkSession

    if train_cap is not None:
        # Sampled training runs DRIVER-SIDE in numpy: the collect is
        # bounded at train_cap rows by construction (same boundedness
        # as the k-row centroid collects), and the alternative —
        # ``iters`` Spark jobs on a few hundred cached rows — costs
        # per-job codegen compilation of the dim-wide sum aggregate,
        # not data (the r13 HOF-codegen lesson; measured on kcenter:
        # 0.87 s/round at sf0.1 on a 256-row cached sample).
        # Bit-identical to the distributed loop: distances accumulate
        # LEFT-FOLDED in element-index order (matching F.aggregate's
        # association), cluster sums are exact int64, the update is
        # the same Python int/int division, argmin ties to the first
        # (smallest-j) match, empty clusters keep their centroid.
        import numpy as np
        rows = _train_sample(q, "__cps_kid", train_cap).collect()
        rows.sort(key=lambda r: r["__cps_kid"])
        if len(rows) < k:
            raise ValueError(f"k={k} exceeds corpus size {len(rows)}")
        dim = len(rows[0]["__cps_kq"])
        vecs = np.array([r["__cps_kq"] for r in rows], dtype=np.int64)
        cents = [[float(v) for v in vecs[i]] for i in range(k)]
        x = vecs.astype(np.float64)
        for _ in range(iters):
            c = np.asarray(cents, dtype=np.float64)
            d = np.zeros((x.shape[0], k))
            for dd in range(dim):  # index order = F.aggregate's fold
                diff = x[:, dd, None] - c[None, :, dd]
                d += diff * diff
            cl = np.argmin(d, axis=1)  # first-match tie-break
            cents = [
                ([int(s) / n for s in vecs[cl == j].sum(axis=0)]
                 if (n := int((cl == j).sum())) else cents[j])
                for j in range(k)]
    else:
        init = q.orderBy("__cps_kid").limit(k).collect()
        if len(init) < k:
            raise ValueError(f"k={k} exceeds corpus size {len(init)}")
        dim = len(init[0]["__cps_kq"])
        cents = [[float(v) for v in row["__cps_kq"]] for row in init]

    def assign(cur: list[list[float]], src: SparkDF) -> SparkDF:
        # centroids ride as a BROADCAST one-row array<array<double>>
        # DataFrame, distances as transform() over it — the
        # expression tree stays O(1) regardless of k and dim.
        # (Embedding k x dim literals into k per-centroid expressions
        # made Catalyst planning + codegen the dominant cost: with
        # k=80, dim=64 the plan carried ~40k literal nodes and
        # planning took longer than the data pass.) Arithmetic is
        # unchanged: zip_with evaluates per-element in index order,
        # aggregate left-associates, array_min + array_position's
        # first-match == the old strict-< fold's smallest-j
        # tie-break, so results are bit-identical.
        cb = F.broadcast(tiny_df(
            spark, [(cur,)], "__cps_cb array<array<double>>"))
        darr = F.transform(
            F.col("__cps_cb"),
            lambda c: F.aggregate(
                F.zip_with(F.col("__cps_kq").cast("array<double>"), c,
                           lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0.0), lambda a, t: a + t))
        return (src.crossJoin(cb)
                   .withColumn("__cps_kda", darr)
                   .withColumn("__cps_kc",
                               (F.array_position(
                                   "__cps_kda",
                                   F.array_min("__cps_kda")) - 1)
                               .cast("int"))
                   .drop("__cps_cb", "__cps_kda"))

    if train_cap is None:
        for _ in range(iters):
            assigned = assign(cents, q)
            sums = assigned.groupBy("__cps_kc").agg(
                F.count(F.lit(1)).alias("__cps_kn"),
                *[F.sum(F.element_at("__cps_kq", d + 1))
                   .alias(f"__s{d}") for d in range(dim)])
            rows = {r["__cps_kc"]: r for r in sums.collect()}
            cents = [
                ([r[f"__s{d}"] / r["__cps_kn"] for d in range(dim)]
                 if (r := rows.get(j)) is not None else cents[j])
                for j in range(k)]
    keep = ([F.col("__cps_kq").alias(with_vector)]
            if with_vector else [])
    out = assign(cents, q).select(F.col("__cps_kid").alias(id_col),
                                  F.col("__cps_kc").alias("cluster"),
                                  *keep)
    return (out, cents) if return_centroids else out


def kmeans_oracle_parts(
    t: str,
    vec_expr: str,
    id_expr: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    assign_t: str | None = None,
    train_cap: int | None = None,
) -> tuple[list[str], str]:
    """CTE parts + final-assignment SELECT for the DuckDB replay of
    :func:`kmeans_fit_predict` — split out so composite oracles
    (e.g. semantic near-dup) can embed the assignment as a CTE.

    ``train_cap`` replays :func:`_train_sample` (training CTEs read a
    hash-ordered ``LIMIT`` of ``t``); ``assign_t`` points the FINAL
    assignment at a different table than training (used by the PQ
    oracle, which hoists one shared sampled-training CTE across its
    subspace chains). Either option adds a full-table ``qf`` CTE that
    the final assignment reads."""
    qcols = ", ".join(
        f"CAST(FLOOR(CAST({vec_expr}[{d + 1}] AS DOUBLE) * {scale}) "
        f"AS BIGINT) AS q{d}" for d in range(dim))
    dist = " + ".join(
        f"(CAST(q.q{d} AS DOUBLE) - c.c{d}) * "
        f"(CAST(q.q{d} AS DOUBLE) - c.c{d})" for d in range(dim))
    parts = []
    train_src = t
    if train_cap is not None:
        parts.append(
            f"ktrain AS (SELECT * FROM {t} ORDER BY "
            f"{train_sample_order_sql(id_expr)} LIMIT {train_cap})")
        train_src = "ktrain"
    parts += [
        f"q AS (SELECT {id_expr} AS id, {qcols} FROM {train_src})",
        ("c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, "
         + ", ".join(f"CAST(q{d} AS DOUBLE) AS c{d}"
                     for d in range(dim))
         + f" FROM (SELECT * FROM q ORDER BY id LIMIT {k}))"),
    ]
    for it in range(iters):
        parts.append(
            f"a{it} AS (SELECT * EXCLUDE (rn) FROM ("
            f"SELECT q.*, c.j AS cl, row_number() OVER ("
            f"PARTITION BY q.id ORDER BY {dist}, c.j) AS rn "
            f"FROM q CROSS JOIN c{it} c) WHERE rn = 1)")
        upd = ", ".join(
            f"CAST(SUM(q{d}) AS DOUBLE) / COUNT(*) AS c{d}"
            for d in range(dim))
        parts.append(
            f"u{it} AS (SELECT cl AS j, {upd} FROM a{it} GROUP BY cl)")
        coal = ", ".join(
            f"COALESCE(u.c{d}, p.c{d}) AS c{d}" for d in range(dim))
        parts.append(
            f"c{it + 1} AS (SELECT p.j, {coal} FROM c{it} p "
            f"LEFT JOIN u{it} u ON p.j = u.j)")
    final_src = "q"
    if assign_t is not None or train_cap is not None:
        parts.append(f"qf AS (SELECT {id_expr} AS id, {qcols} "
                     f"FROM {assign_t or t})")
        final_src = "qf"
    final = (
        f"SELECT id AS {id_expr}, CAST(cl AS INT) AS cluster "
        f"FROM (SELECT q.id, c.j AS cl, row_number() OVER ("
        f"PARTITION BY q.id ORDER BY {dist}, c.j) AS rn "
        f"FROM {final_src} q CROSS JOIN c{iters} c) WHERE rn = 1")
    return parts, final


def kmeans_oracle_sql(
    t: str,
    vec_expr: str,
    id_expr: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    train_cap: int | None = None,
) -> str:
    """DuckDB-SQL replay of :func:`kmeans_fit_predict` — the same
    quantization, init, iteration count, tie-break, and
    empty-cluster rule, with the identical left-associated
    arithmetic, generated as ``iters`` chained CTE stages."""
    parts, final = kmeans_oracle_parts(t, vec_expr, id_expr, dim, k,
                                       iters, scale,
                                       train_cap=train_cap)
    return "WITH " + ",\n".join(parts) + " " + final


def semantic_near_dup(
    df: SparkDF,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.2,
    scale: int = 1000,
) -> SparkDF:
    """SemDeDup-style semantic near-dup (Abbas et al. 2023,
    arXiv:2303.09540, public): k-means-cluster the corpus, then exact
    cosine pairing WITHIN clusters only — the cluster step caps the
    candidate set at sum(|cluster|^2) instead of |corpus|^2, which is
    the published trick that makes embedding dedup tractable at
    scale. Returns ``(id_a, id_b, cluster, cosine)`` for pairs with
    floor-rounded cosine >= ``threshold``, id_a < id_b.

    Scale notes: the pair search is a hash join on cluster id, so
    parallelism = k — size ``k`` so clusters fit an executor
    (SemDeDup's own regime: k in the tens of thousands at web scale;
    candidate pairs stay bounded because cluster diameter, not corpus
    size, drives match counts). Norms are computed once per row below
    the join; the assignment joins back to the corpus by id (one
    co-shuffle).

    Measured and REJECTED (late r13, interleaved warm A/B at sf0.1):
    persisting the tagged (corpus ⋈ assignment) frame before the
    self-join — the hypothesis was that the un-persisted assignment
    plan executes once per join side — read 5.95/6.28 s vs
    5.83/6.22 s un-persisted: a wash, because Spark reuses the
    assignment subtree's exchange across the self-join sides, so the
    persist only adds cache-write cost. Same verdict family as
    sparse.py's no-persist decision.
    """
    from .similarity import _pair_cosine, l2_norm

    asg = kmeans_fit_predict(df, vec_col, id_col, k, iters, scale)
    tagged = df.select(F.col(id_col), F.col(vec_col)).join(asg, id_col)
    # norms once per ROW below the join (not per pair above it) —
    # same value either way, ~3x less float work in the pair stage
    a = tagged.select(F.col(id_col).alias("id_a"), "cluster",
                      F.col(vec_col).alias("__cps_va"),
                      l2_norm(F.col(vec_col)).alias("__cps_na"))
    b = tagged.select(F.col(id_col).alias("id_b"),
                      F.col("cluster").alias("__cps_cb"),
                      F.col(vec_col).alias("__cps_vb"),
                      l2_norm(F.col(vec_col)).alias("__cps_nb"))
    pairs = a.join(b, (F.col("cluster") == F.col("__cps_cb"))
                   & (F.col("id_a") < F.col("id_b")))
    cos = _pair_cosine("__cps_va", "__cps_vb", "__cps_na", "__cps_nb")
    return (pairs.select("id_a", "id_b", "cluster",
                         cos.alias("cosine"))
                 .filter(F.col("cosine") >= threshold))


def semantic_near_dup_oracle_sql(
    t: str,
    vec_expr: str,
    id_expr: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.2,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`semantic_near_dup`: the k-means CTE
    replay + a within-cluster self-join with list_inner_product
    cosine, floor-rounded with the repo-wide convention."""
    parts, final = kmeans_oracle_parts(t, vec_expr, id_expr, dim, k,
                                       iters, scale)
    lip = "list_inner_product"

    def cos(x: str, y: str) -> str:
        return (f"{lip}({x}::DOUBLE[], {y}::DOUBLE[]) / "
                f"(sqrt({lip}({x}::DOUBLE[], {x}::DOUBLE[])) * "
                f"sqrt({lip}({y}::DOUBLE[], {y}::DOUBLE[])))")

    c = cos("va.vec", "vb.vec")
    return (
        "WITH " + ",\n".join(parts)
        + f", asg AS ({final})"
        + f", v AS (SELECT s.{id_expr} AS id, {vec_expr} AS vec, "
        + f"asg.cluster FROM {t} s JOIN asg "
        + f"ON s.{id_expr} = asg.{id_expr}) "
        + f"SELECT va.id AS id_a, vb.id AS id_b, va.cluster, "
        + f"FLOOR(({c}) * 10000) / 10000 AS cosine "
        + f"FROM v va JOIN v vb ON va.cluster = vb.cluster "
        + f"AND va.id < vb.id "
        + f"WHERE FLOOR(({c}) * 10000) / 10000 >= {threshold}")


# cross-check helper used by tests: plain-Python replay of the same
# recurrence (exact ints + IEEE doubles), independent of both engines
def kmeans_reference(vectors: dict[int, list[float]], k: int = 8,
                     iters: int = 3, scale: int = 1000
                     ) -> dict[int, int]:
    q = {i: [math.floor(float(x) * scale) for x in v]
         for i, v in vectors.items()}
    ids = sorted(q)
    dim = len(q[ids[0]])
    cents = [[float(v) for v in q[i]] for i in ids[:k]]

    def assign_one(vec):
        best_j, best_d = 0, None
        for j, c in enumerate(cents):
            d = 0.0
            for a, b in zip(vec, c):
                diff = float(a) - b
                d = d + diff * diff
            if best_d is None or d < best_d:
                best_j, best_d = j, d
        return best_j

    for _ in range(iters):
        sums = {}
        for i in ids:
            j = assign_one(q[i])
            s = sums.setdefault(j, [0] * (dim + 1))
            for d in range(dim):
                s[d] += q[i][d]
            s[dim] += 1
        cents = [
            ([s[d] / s[dim] for d in range(dim)]
             if (s := sums.get(j)) is not None else cents[j])
            for j in range(k)]
    return {i: assign_one(q[i]) for i in ids}
