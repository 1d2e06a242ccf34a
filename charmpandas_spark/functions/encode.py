"""Categorical and numeric feature encoding for model-training
pipelines — target (mean) encoding with leave-one-out, and group-wise
z-score standardization.

Beyond the reference surface (charmpandas stops at relational ops);
these are the feature-engineering primitives a tabular-ML or
ranking-model pipeline runs right before writing training shards.

EXACT by construction, per the repo's integer doctrine: callers pass
NON-NEGATIVE INTEGER target/value columns (cents, micros), the
sufficient statistics (n, Σy, Σy²) are summed as DECIMAL(38,0)
(exact in Spark, HUGEINT in DuckDB), and encoded outputs are integer
micro-units via integral division (``div`` in Spark ≡ ``//`` on
HUGEINT in DuckDB for non-negative operands) or fixed-order IEEE
expressions over the exact sums. Quotients are micro-unit means, so
they fit int64 by construction (Spark's decimal ``div`` returns LONG
and would wrap past 2^63 — a mean in micro-units never gets there).

Scale design: every encoder reduces to ONE grouped aggregation to a
category/group-cardinality statistics table, broadcast back onto the
data — the fact scan itself never shuffles. The statistics table
is as small as the category domain whatever the data size, and the encode step
stays scan-local (codegen'd projection after a broadcast hash join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = [
    "target_encoding", "target_encoding_sql",
    "target_encode_loo", "target_encode_loo_sql",
    "standard_scale", "standard_scale_sql",
    "winsorize", "winsorize_sql",
]

MICRO = 1_000_000
_D38 = "decimal(38,0)"


def _d38(expr: str) -> str:
    return f"CAST({expr} AS {_D38})"


# ---------------------------------------------------------------------------
# target (mean) encoding
# ---------------------------------------------------------------------------

def target_encoding(df: SparkDF, cat_col: str, target_col: str,
                    prior_weight: int = 0) -> SparkDF:
    """Category → target-statistics table: ``(cat, n, mean_micro)``.

    ``mean_micro = (1e6·Σy) div n`` — an exact floored rational, so
    the encoding is reproducible on any cluster/engine. With
    ``prior_weight = m > 0`` the mean is smoothed toward the GLOBAL
    mean (the standard m-estimate that keeps rare categories from
    memorizing their few labels):

        smoothed = (n·ȳ_cat + m·ȳ_global) / (n + m)
                 = (1e6·(Σy·N + m·ΣY)) div (N·(n + m))

    where (N, ΣY) are the global count/sum riding the plan as a
    broadcast 1-row aggregate — no second scan, no driver value.

    One grouped aggregation; output rows = category cardinality.
    """
    y = F.col(target_col).cast(_D38)
    per_cat = (df.groupBy(cat_col)
                 .agg(F.count(target_col).cast(_D38).alias("__n"),
                      F.sum(y).alias("__sy")))
    if prior_weight == 0:
        mean = F.expr(f"(CAST({MICRO} AS {_D38}) * __sy) div __n")
        return per_cat.select(
            cat_col, F.col("__n").cast("long").alias("n"),
            mean.alias("mean_micro"))
    glob = df.agg(F.count(target_col).cast(_D38).alias("__gn"),
                  F.sum(y).alias("__gsy"))
    m = _d38(str(prior_weight))
    mean = F.expr(
        f"(CAST({MICRO} AS {_D38}) * (__sy * __gn + {m} * __gsy))"
        f" div (__gn * (__n + {m}))")
    return (per_cat.crossJoin(F.broadcast(glob))
            .select(cat_col, F.col("__n").cast("long").alias("n"),
                    mean.alias("mean_micro")))


def target_encoding_sql(t: str, cat_expr: str, target_expr: str,
                        prior_weight: int = 0) -> str:
    """DuckDB twin: HUGEINT sums + the identical integral division
    (``//`` on HUGEINT truncates ≡ Spark decimal ``div`` for the
    non-negative contract)."""
    if prior_weight == 0:
        return f"""
            SELECT {cat_expr} AS cat,
                   CAST(count({target_expr}) AS BIGINT) AS n,
                   CAST(({MICRO}::HUGEINT
                         * sum(CAST({target_expr} AS HUGEINT)))
                        // count({target_expr})::HUGEINT AS BIGINT)
                       AS mean_micro
            FROM {t} GROUP BY {cat_expr}
        """
    m = prior_weight
    return f"""
        WITH per_cat AS (
            SELECT {cat_expr} AS cat,
                   CAST(count({target_expr}) AS HUGEINT) AS n,
                   sum(CAST({target_expr} AS HUGEINT)) AS sy
            FROM {t} GROUP BY {cat_expr}),
        gstats AS (
            SELECT CAST(count({target_expr}) AS HUGEINT) AS gn,
                   sum(CAST({target_expr} AS HUGEINT)) AS gsy
            FROM {t})
        SELECT c.cat, CAST(c.n AS BIGINT) AS n,
               CAST(({MICRO}::HUGEINT * (c.sy * g.gn + {m} * g.gsy))
                    // (g.gn * (c.n + {m})) AS BIGINT) AS mean_micro
        FROM per_cat c CROSS JOIN gstats g
    """


def target_encode_loo(df: SparkDF, cat_col: str, target_col: str,
                      id_col: str,
                      out_col: str = "enc_loo_micro") -> SparkDF:
    """Per-row LEAVE-ONE-OUT target encoding: each row is encoded with
    the mean of the OTHER rows in its category —
    ``(1e6·(Σy − y)) div (n − 1)``, NULL when the row is alone in its
    category. LOO is the standard defense against target leakage when
    the encoded feature feeds a model trained on the same rows.

    Plan: the category-cardinality statistics table broadcast back
    onto the fact scan; the subtraction is a scan-local codegen'd
    expression. One shuffle-free pass over the data at any scale.
    """
    stats = (df.groupBy(cat_col)
               .agg(F.count(target_col).alias("__cps_n"),
                    F.sum(F.col(target_col).cast(_D38)).alias("__cps_sy")))
    joined = df.join(F.broadcast(stats), cat_col, "left")
    enc = F.when(
        (F.col("__cps_n") > 1) & F.col(target_col).isNotNull(),
        F.expr(f"(CAST({MICRO} AS {_D38})"
               f" * (__cps_sy - CAST({target_col} AS {_D38})))"
               f" div CAST(__cps_n - 1 AS {_D38})"))
    return joined.select(id_col, cat_col,
                         F.col(target_col).cast("long").alias("y"),
                         enc.alias(out_col))


def target_encode_loo_sql(t: str, cat_expr: str, target_expr: str,
                          id_expr: str,
                          out_col: str = "enc_loo_micro") -> str:
    """DuckDB twin (window formulation — same values, the engines may
    pick different physical plans; the CONTRACT is the rational)."""
    return f"""
        WITH base AS (
            SELECT {id_expr} AS id, {cat_expr} AS cat,
                   CAST({target_expr} AS HUGEINT) AS y,
                   count(CAST({target_expr} AS HUGEINT))
                       OVER (PARTITION BY {cat_expr}) AS n,
                   sum(CAST({target_expr} AS HUGEINT))
                       OVER (PARTITION BY {cat_expr}) AS sy
            FROM {t})
        SELECT id, cat, CAST(y AS BIGINT) AS y,
               CASE WHEN n > 1 AND y IS NOT NULL THEN
                   CAST(({MICRO}::HUGEINT * (sy - y)) // (n - 1)
                        AS BIGINT)
               END AS {out_col}
        FROM base
    """


# ---------------------------------------------------------------------------
# group-wise z-score standardization
# ---------------------------------------------------------------------------

def standard_scale(df: SparkDF, col: str, by: list[str],
                   out_col: str = "z_micro") -> SparkDF:
    """Group-wise z-score in integer micro-units:
    ``z = (x − μ)/σ`` with the POPULATION σ, computed as the
    algebraically-equivalent ``(n·x − S) / sqrt(n·Q − S²)`` so the
    only non-integer steps are one double division and one IEEE sqrt
    over EXACT DECIMAL(38,0) statistics — a fixed-order expression
    both engines evaluate bit-identically (DECIMAL→double and
    HUGEINT→double both round to nearest even).

    ``col`` must be integer units (cents/micros). NULL x stays NULL;
    a degenerate group (n < 2 or zero variance) yields NULL — a
    constant feature has no z-score, and silently emitting 0 would
    hide it from a feature-quality gate.

    Plan: one grouped aggregation to a group-cardinality (n, S, Q)
    table broadcast back onto the scan; the z expression is
    scan-local codegen. The fact table never shuffles.
    """
    x = F.col(col).cast(_D38)
    stats = (df.groupBy(*by)
               .agg(F.count(col).cast(_D38).alias("__cps_n"),
                    F.sum(x).alias("__cps_s"),
                    F.sum((x * x).cast(_D38)).alias("__cps_q")))
    joined = df.join(F.broadcast(stats), by, "left")
    n, s, q = F.col("__cps_n"), F.col("__cps_s"), F.col("__cps_q")
    num = (n * x - s).cast(_D38).cast("double")
    var_term = (n * q - s * s).cast(_D38).cast("double")
    z = F.when(
        (n >= 2) & F.col(col).isNotNull() & (var_term > 0.0),
        F.floor(F.lit(float(MICRO)) * num / F.sqrt(var_term)))
    return joined.select(*by, F.col(col).cast("long").alias("x"),
                         z.cast("long").alias(out_col))


def standard_scale_sql(t: str, x_expr: str, by: list[str],
                       out_col: str = "z_micro") -> str:
    """DuckDB twin of :func:`standard_scale` (window formulation over
    HUGEINT sufficient statistics; identical final double ops)."""
    bys = ", ".join(by)
    return f"""
        WITH base AS (
            SELECT {bys}, CAST({x_expr} AS HUGEINT) AS x FROM {t}),
        st AS (
            SELECT {bys}, x,
                   count(x) OVER (PARTITION BY {bys}) AS n,
                   sum(x)   OVER (PARTITION BY {bys}) AS s,
                   sum(x*x) OVER (PARTITION BY {bys}) AS q
            FROM base)
        SELECT {bys}, CAST(x AS BIGINT) AS x,
               CASE WHEN n >= 2 AND x IS NOT NULL
                         AND CAST(n*q - s*s AS DOUBLE) > 0 THEN
                   CAST(floor({MICRO}.0 * CAST(n*x - s AS DOUBLE)
                              / sqrt(CAST(n*q - s*s AS DOUBLE)))
                        AS BIGINT)
               END AS {out_col}
        FROM st
    """


# ---------------------------------------------------------------------------
# winsorization (robust per-group tail clipping)
# ---------------------------------------------------------------------------

def winsorize(df: SparkDF, col: str, by: list[str],
              lo: float = 0.05, hi: float = 0.95,
              out_col: str = "x_w") -> SparkDF:
    """Group-wise winsorization: clip ``col`` to its per-group
    [``lo``, ``hi``] quantiles — the standard robust preprocessing
    step before mean-based statistics or scaling (one corrupt sensor
    reading or pathological document length otherwise dominates a
    mean; winsorizing bounds its leverage without dropping the row,
    unlike a filter).

    The bounds are DISCRETE (type-1) quantiles — the group's value at
    sorted position ``ceil(p*n)`` (clamped to [1, n]) — so with an
    integer-unit ``col`` every step is integer selection and
    comparison: no interpolation, no float arithmetic, bit-identical
    across engines by construction (``percentile``'s linear
    interpolation is the alternative when the smoother estimate
    matters; ``group_quantiles`` provides it).

    Plan: one hash-partition on ``by`` computes per-group (rank, n)
    in a single window pass; the two bound values fall out of one
    grouped conditional aggregate (a group-cardinality table,
    broadcast back); the clip itself is a scan-local
    ``least/greatest``. Two shuffles of the data (window + the
    broadcast-join probe side stays in place), never a global sort.
    """
    from pyspark.sql import Window

    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError("need 0 <= lo <= hi <= 1")
    # NULL values are excluded up front: Spark sorts NULLs FIRST on
    # ASC, DuckDB LAST — a silent cross-engine divergence if they
    # entered the rank; and a NULL has no place in a clip anyway.
    df = df.filter(F.col(col).isNotNull())
    x = F.col(col)
    w = Window.partitionBy(*by).orderBy(x.asc())
    ranked = (df.withColumn("__cps_rn", F.row_number().over(w))
                .withColumn("__cps_n",
                            F.count(F.lit(1)).over(
                                Window.partitionBy(*by))))
    pos = lambda p: F.greatest(  # noqa: E731  (ceil(p*n) clamp, int)
        F.ceil(F.lit(p) * F.col("__cps_n")).cast("long"), F.lit(1))
    bounds = (ranked.groupBy(*by)
              .agg(F.max(F.when(F.col("__cps_rn") == pos(lo), x))
                    .alias("__cps_lo"),
                   F.max(F.when(F.col("__cps_rn") == pos(hi), x))
                    .alias("__cps_hi")))
    return (df.join(F.broadcast(bounds), by)
              .select(*by, x.cast("long").alias("x"),
                      F.least(F.greatest(x, F.col("__cps_lo")),
                              F.col("__cps_hi"))
                       .cast("long").alias(out_col)))


def winsorize_sql(t: str, x_expr: str, by: list[str],
                  lo: float = 0.05, hi: float = 0.95,
                  out_col: str = "x_w") -> str:
    """DuckDB twin of :func:`winsorize` (same window-rank discrete
    quantile — not ``quantile_disc``, whose index rule differs)."""
    bys = ", ".join(by)
    return f"""
        WITH base AS (
            SELECT {bys}, CAST({x_expr} AS BIGINT) AS x FROM {t}
            WHERE ({x_expr}) IS NOT NULL),
        ranked AS (
            SELECT *, row_number() OVER (
                          PARTITION BY {bys} ORDER BY x ASC) AS rn,
                   count(*) OVER (PARTITION BY {bys}) AS n
            FROM base),
        bounds AS (
            SELECT {bys},
                   max(CASE WHEN rn = greatest(
                       CAST(ceil({lo} * n) AS BIGINT), 1)
                       THEN x END) AS blo,
                   max(CASE WHEN rn = greatest(
                       CAST(ceil({hi} * n) AS BIGINT), 1)
                       THEN x END) AS bhi
            FROM ranked GROUP BY {bys})
        SELECT b.{bys.replace(', ', ', b.')}, b.x,
               least(greatest(b.x, d.blo), d.bhi) AS {out_col}
        FROM base b JOIN bounds d USING ({bys})
    """
