"""Top-principal-component extraction over an embedding corpus via
INTEGER power iteration — the dimensionality-reduction primitive for
embedding whitening, drift monitoring (project to the dominant axis,
watch the 1-d distribution), and OPQ-style pre-rotations.

Architecture (no data-sized state on the driver): ONE distributed
pass computes the d² + d + 1 sufficient statistics (Σqᵢqⱼ, Σqᵢ, n)
via an Arrow-batched ``mapInPandas`` partial-product kernel (numpy
int64 X'X per batch, d²-row partials, grouped DECIMAL(38,0) sum);
the d×d covariance and the power iteration then live on the driver —
O(d²·iters) integer work on a 64×64 matrix, the same bounded-collect
class as kmeans' centroid table. Projection is a second scan-local
pass (zip_with fold against the literal component).

EXACT + deterministic, per repo doctrine:

- vectors quantize to ints (``floor(x·scale)``, kmeans convention);
- the centered covariance is the algebraic ``n·Σqᵢqⱼ − Σqᵢ·Σqⱼ``
  (no float mean subtraction; n-scaling cancels in power iteration);
- each iteration renormalizes by the max-|component| via
  ``sign·(|w|·SCALE // max|w|)`` — integer division TOWARD ZERO on
  both engines (DuckDB ``//`` truncates, Python ``//`` floors: the
  sign/abs form makes them agree on negatives);
- the start vector is e₀ (deterministic sign).

Convergence rate is the usual |λ₂/λ₁|^iters: on corpora with real
principal structure a dozen iterations lock the direction; on the
NEAR-DEGENERATE spectrum of uniform-random synthetic embeddings
(λ₁/λ₂ ≈ 1.013 on the sf0.01 fixture) alignment with the true top
component grows slowly (0.64 @ 4 iters → 0.88 @ 12 → 0.97 @ 30).
The CONTRACT is the procedure, not the eigenvector: the oracle
replays the same iterations, so the check is exact regardless of
spectrum — and every iteration is O(d²) driver-side integer work
plus 3 tiny CTEs in the replay, so the default is 12.

The DuckDB oracle replays everything: sufficient statistics by an
unnest self-join, the covariance algebra, every iteration as
MATERIALIZED matvec CTEs, and the final projection — so the whole
"train on cluster, apply on cluster" loop is value-checkable.

int64 bounds: |q| ≤ 2·scale, so Σ products fit HUGEINT/DECIMAL
always; the projection ``Σ(n·q−S)·v`` fits int64 for n·scale ≲ 1e11
(document-scale corpora; past that, raise to DECIMAL).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF, functions as F

from .kmeans import _quantize

__all__ = ["pca_power_project", "pca_power_project_sql",
           "pca_stats", "pca_stats_merge", "pca_project_from_stats",
           "pca_drift", "pca_drift_sql"]

#: component scale: max-|component| of the iterated vector
SCALE2 = 1_000_000


def _tdiv(num: int, den: int) -> int:
    """Integer division truncated TOWARD ZERO (matches DuckDB //)."""
    q = abs(num) // den
    return -q if num < 0 else q


def _power_iterate(cov: list[list[int]], iters: int) -> list[int]:
    """Driver-side exact power iteration: v₀ = e₀·SCALE2, then
    ``v ← trunc(C·v · SCALE2 / max|C·v|)`` — pure Python ints."""
    d = len(cov)
    v = [SCALE2] + [0] * (d - 1)
    for _ in range(iters):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            break
        v = [_tdiv(x * SCALE2, mx) for x in w]
    return v


def pca_stats(df: SparkDF, vec_col: str,
              scale: int = 1000) -> SparkDF:
    """The corpus' PCA sufficient statistics as a MERGEABLE table:
    ``(i, j, s)`` rows holding Σqᵢqⱼ (i,j ≥ 0), Σqᵢ (j = −1) and the
    row count (i = j = −1) as DECIMAL(38,0). One Arrow-batched
    ``mapInPandas`` pass (per-batch numpy int64 X'X) + one grouped
    sum — d²+d+1 rows regardless of corpus size. Because plain sums
    form a commutative monoid, per-batch/per-day/per-shard statistics
    fold with :func:`pca_stats_merge` — an incremental PCA refresh
    never rescans history (rollup_incremental's pattern on matrix
    statistics)."""
    q = df.select(_quantize(vec_col, scale).alias("qv"))

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            xtx = x.T @ x                       # d x d int64
            s = x.sum(axis=0)                   # d int64
            d = x.shape[1]
            i, j = np.meshgrid(np.arange(d), np.arange(d),
                               indexing="ij")
            yield pd.DataFrame({
                "i": np.concatenate([i.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([j.ravel(), np.full(d, -1), [-1]]),
                "v": np.concatenate([xtx.ravel(), s,
                                     [np.int64(len(pdf))]])})

    return (q.mapInPandas(stats, "i int, j int, v long")
             .groupBy("i", "j")
             .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s")))


def pca_stats_merge(a: SparkDF, b: SparkDF) -> SparkDF:
    """Fold two statistics tables (the monoid ⊕: cellwise sum)."""
    return (a.unionByName(b)
             .groupBy("i", "j")
             .agg(F.sum("s").alias("s")))


def pca_project_from_stats(df: SparkDF, vec_col: str, id_col: str,
                           stats_df: SparkDF, iters: int = 12,
                           scale: int = 1000) -> SparkDF:
    """Project ``df`` onto the top PC of a (possibly incrementally
    folded) statistics table — identical to
    :func:`pca_power_project` when the statistics cover ``df``."""
    agg = stats_df.collect()
    cells = {(r["i"], r["j"]): int(r["s"]) for r in agg}
    q = df.select(F.col(id_col).alias("id"),
                  _quantize(vec_col, scale).alias("qv"))
    return _project(q, id_col, cells, iters)


def pca_power_project(df: SparkDF, vec_col: str, id_col: str,
                      iters: int = 12, scale: int = 1000) -> SparkDF:
    """Project every vector onto the corpus' top principal component:
    returns ``(id_col, proj)`` with
    ``proj = trunc(Σ_d (n·q_d − S_d)·v_d / (n·SCALE2))`` — the
    centered projection in quantized units onto the max-normalized
    component — plus the component itself is recomputable from the
    same statistics (the oracle does exactly that).

    One ``mapInPandas`` statistics pass + one scan-local projection
    pass; the power iteration is exact driver-side integer work on
    the d×d matrix.
    """
    q = df.select(F.col(id_col).alias("id"),
                  _quantize(vec_col, scale).alias("qv"))
    agg = pca_stats(df, vec_col, scale).collect()
    cells = {(r["i"], r["j"]): int(r["s"]) for r in agg}
    return _project(q, id_col, cells, iters)


def _project(q: SparkDF, id_col: str, cells: dict,
             iters: int) -> SparkDF:
    n = cells[(-1, -1)]
    dim = 1 + max(i for i, j in cells if j == -1 and i >= 0)
    s_vec = [cells[(i, -1)] for i in range(dim)]
    cov = [[n * cells[(i, j)] - s_vec[i] * s_vec[j]
            for j in range(dim)] for i in range(dim)]
    v = _power_iterate(cov, iters)

    # projection pass: Σ (n·q_d − S_d) · v_d, truncated toward zero
    s_lit = F.array(*[F.lit(s).cast("long") for s in s_vec])
    v_lit = F.array(*[F.lit(x).cast("long") for x in v])
    centered = F.zip_with(F.col("qv"), s_lit,
                          lambda x, s: F.lit(n).cast("long") * x - s)
    raw = F.aggregate(
        F.zip_with(centered, v_lit, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    den = n * SCALE2
    # toward-zero integer division via sign/abs + long `div` — NOT a
    # float divide+floor, which can cross an integer boundary when
    # the quotient is exact
    return (q.select(F.col("id"), raw.alias("__r"))
             .select(F.col("id").alias(id_col),
                     F.expr(f"CASE WHEN __r < 0 "
                            f"THEN -(abs(__r) div {den}) "
                            f"ELSE abs(__r) div {den} END")
                      .alias("proj")))


def pca_power_project_sql(t: str, vec_expr: str, id_expr: str,
                          dim: int, iters: int = 12,
                          scale: int = 1000) -> str:
    """DuckDB replay of :func:`pca_power_project`: sufficient
    statistics via an unnest self-join, the same covariance algebra,
    every power iteration as MATERIALIZED matvec CTEs with the
    identical toward-zero renormalization, and the final projection."""
    parts = [
        f"""flat AS MATERIALIZED (
            SELECT {id_expr} AS id, u.d AS d,
                   CAST(FLOOR(CAST(u.x AS DOUBLE) * {scale})
                        AS BIGINT) AS q
            FROM {t},
                 LATERAL (SELECT generate_subscripts({vec_expr}, 1)
                              AS d,
                          unnest({vec_expr}) AS x) u)""",
        """nstat AS MATERIALIZED (
            SELECT CAST(count(DISTINCT id) AS HUGEINT) AS n
            FROM flat)""",
        """svec AS MATERIALIZED (
            SELECT d, sum(CAST(q AS HUGEINT)) AS s
            FROM flat GROUP BY d)""",
        """xtx AS MATERIALIZED (
            SELECT a.d AS i, b.d AS j,
                   sum(CAST(a.q AS HUGEINT) * CAST(b.q AS HUGEINT))
                       AS sq
            FROM flat a JOIN flat b USING (id) GROUP BY a.d, b.d)""",
        """cov AS MATERIALIZED (
            SELECT x.i, x.j,
                   (SELECT n FROM nstat) * x.sq - si.s * sj.s AS c
            FROM xtx x JOIN svec si ON si.d = x.i
                       JOIN svec sj ON sj.d = x.j)""",
        f"""v0 AS MATERIALIZED (
            SELECT d, CASE WHEN d = 1
                           THEN CAST({SCALE2} AS HUGEINT)
                           ELSE CAST(0 AS HUGEINT) END AS v
            FROM (SELECT DISTINCT d FROM flat))""",
    ]
    for it in range(iters):
        parts.append(f"""w{it} AS MATERIALIZED (
            SELECT c.i AS d, sum(c.c * v.v) AS w
            FROM cov c JOIN v{it} v ON v.d = c.j GROUP BY c.i)""")
        parts.append(f"""m{it} AS MATERIALIZED (
            SELECT max(abs(w)) AS mx FROM w{it})""")
        parts.append(f"""v{it + 1} AS MATERIALIZED (
            SELECT d, CASE WHEN (SELECT mx FROM m{it}) = 0 THEN
                       (SELECT v FROM v{it} p WHERE p.d = w{it}.d)
                   ELSE CASE WHEN w < 0 THEN
                       -((abs(w) * {SCALE2}) // (SELECT mx FROM m{it}))
                   ELSE
                       (abs(w) * {SCALE2}) // (SELECT mx FROM m{it})
                   END END AS v
            FROM w{it})""")
    last = f"v{iters}"
    return f"""
        WITH {', '.join(parts)},
        raw AS MATERIALIZED (
            SELECT f.id,
                   sum(((SELECT n FROM nstat) * f.q - s.s) * v.v)
                       AS r
            FROM flat f JOIN svec s ON s.d = f.d
                        JOIN {last} v ON v.d = f.d
            GROUP BY f.id)
        SELECT id AS {id_expr},
               CAST(CASE WHEN r < 0 THEN
                   -(abs(r) // ((SELECT n FROM nstat) * {SCALE2}))
               ELSE
                   abs(r) // ((SELECT n FROM nstat) * {SCALE2})
               END AS BIGINT) AS proj
        FROM raw
    """


# ---------------------------------------------------------------------------
# projection drift monitor
# ---------------------------------------------------------------------------

def pca_drift(df: SparkDF, vec_col: str, id_col: str, side_col: str,
              bins: int = 8, iters: int = 12,
              scale: int = 1000) -> SparkDF:
    """Distribution drift between two corpus slices on the top-PC
    axis — the standard cheap embedding-drift monitor: project BOTH
    sides onto the common principal axis (fit on the union, so the
    axis is shared), bin the projections into ``bins`` equi-width
    buckets over the global range, and report per-bin counts and
    basis-point shares; ``Σ|pa_bp − pb_bp| // 2`` is the total
    variation distance in basis points (integer — no chi-square
    division-by-zero pathology on empty bins).

    ALL-INTEGER: projections are ints, the bin rule is
    ``((p − mn)·bins) div (mx − mn + 1)`` (exact, always in
    [0, bins)), shares are floored basis points. The global range
    rides the plan as a broadcast 1-row aggregate.

    ``side_col`` must be an integer 0/1 column on ``df``.
    """
    proj = pca_power_project(df, vec_col, id_col, iters, scale)
    sides = df.select(F.col(id_col), F.col(side_col).alias("__side"))
    p = proj.join(sides, id_col)
    rng = p.agg(F.min("proj").alias("__mn"),
                F.max("proj").alias("__mx"))
    binned = (p.crossJoin(F.broadcast(rng))
               .withColumn("bin",
                           F.expr(f"((proj - __mn) * {bins})"
                                  f" div (__mx - __mn + 1)")
                            .cast("int")))
    counts = (binned.groupBy("bin")
                    .agg(F.sum(F.when(F.col("__side") == 0, 1)
                               .otherwise(0)).cast("long")
                          .alias("n_a"),
                         F.sum(F.when(F.col("__side") == 1, 1)
                               .otherwise(0)).cast("long")
                          .alias("n_b")))
    tots = counts.agg(F.sum("n_a").alias("__ta"),
                      F.sum("n_b").alias("__tb"))
    return (counts.crossJoin(F.broadcast(tots))
            .select("bin", "n_a", "n_b",
                    F.expr("(10000 * n_a) div __ta").alias("pa_bp"),
                    F.expr("(10000 * n_b) div __tb").alias("pb_bp")))


def pca_drift_sql(t: str, vec_expr: str, id_expr: str,
                  side_expr: str, dim: int, bins: int = 8,
                  iters: int = 12, scale: int = 1000) -> str:
    """DuckDB twin: the full PCA replay as a subquery, then the
    identical integer binning and basis-point algebra."""
    inner = pca_power_project_sql(t, vec_expr, id_expr, dim, iters,
                                  scale)
    return f"""
        WITH proj AS MATERIALIZED ({inner}),
        sided AS MATERIALIZED (
            SELECT p.proj, CAST({side_expr} AS INT) AS side
            FROM proj p JOIN {t} s ON p.{id_expr} = s.{id_expr}),
        rng AS (SELECT min(proj) AS mn, max(proj) AS mx FROM sided),
        binned AS (
            SELECT CAST(((proj - rng.mn) * {bins})
                        // (rng.mx - rng.mn + 1) AS INT) AS bin,
                   side
            FROM sided CROSS JOIN rng),
        cnt AS (
            SELECT bin,
                   CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM binned GROUP BY bin),
        tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cnt)
        SELECT bin, n_a, n_b,
               CAST((10000 * n_a) // tot.ta AS BIGINT) AS pa_bp,
               CAST((10000 * n_b) // tot.tb AS BIGINT) AS pb_bp
        FROM cnt CROSS JOIN tot
    """
