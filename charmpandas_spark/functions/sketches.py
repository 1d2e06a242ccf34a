"""Approximate/sketch aggregations for one-pass profiling.

Counting distincts or computing quantiles exactly costs a full
shuffle of the key space; sketches answer within a few percent
with bounded memory and a single pass. All built on Spark's native
sketch aggregates (JVM-side, mergeable, partial-aggregable):

- HyperLogLog++ (``approx_count_distinct``) and Apache DataSketches
  HLL (``hll_sketch_agg`` — mergeable across tables/days via
  ``hll_union_agg``)
- quantile sketches (``percentile_approx``)
- heavy hitters (``count_min_sketch`` / frequency by groupBy-top-k)

These are deliberately NOT in the DuckDB-oracle set: sketch estimates
are implementation-defined, so tests assert error bounds against the
exact answers instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = [
    "approx_distinct",
    "hll_sketch",
    "hll_merge",
    "approx_quantiles",
    "approx_quantiles_check",
    "approx_distinct_check",
    "heavy_hitters",
    "cms_build",
    "cms_heavy_check",
    "cms_heavy_check_sql",
    "audience_overlap_check",
]


def approx_distinct(df: SparkDF, col: str, rsd: float = 0.02,
                    by: list[str] | None = None) -> SparkDF:
    """HLL++ distinct-count estimate (relative std dev ``rsd``);
    exact shuffles the whole key space, this is one pass + tiny state."""
    agg = F.approx_count_distinct(col, rsd=rsd).alias(f"approx_{col}")
    return df.groupBy(*(by or [])).agg(agg)


def hll_sketch(df: SparkDF, col: str, by: list[str] | None = None,
               lg_k: int = 12) -> SparkDF:
    """Materialize mergeable DataSketches HLL sketches (binary column)
    — the building block for incremental distinct counts across
    partitions/days without re-scanning history."""
    agg = F.hll_sketch_agg(F.col(col).cast("string"), lg_k) \
        .alias(f"{col}_hll")
    return df.groupBy(*(by or [])).agg(agg)


def hll_merge(sketches: SparkDF, sketch_col: str,
              by: list[str] | None = None) -> SparkDF:
    """Union pre-computed HLL sketches and extract the estimate."""
    merged = sketches.groupBy(*(by or [])).agg(
        F.hll_union_agg(sketch_col).alias("_merged"))
    return merged.select(*(by or []),
                         F.hll_sketch_estimate("_merged").alias("estimate"))


def approx_quantiles(df: SparkDF, col: str,
                     probabilities: list[float] = (0.5, 0.95, 0.99),
                     accuracy: int = 10000,
                     by: list[str] | None = None) -> SparkDF:
    """Approximate quantiles (Greenwald-Khanna style) in one pass."""
    agg = F.percentile_approx(
        col, F.array(*[F.lit(p) for p in probabilities]), accuracy
    ).alias(f"{col}_quantiles")
    return df.groupBy(*(by or [])).agg(agg)


def approx_quantiles_check(df: SparkDF, col: str,
                           probabilities: list[float],
                           accuracy: int = 10000,
                           by: list[str] | None = None) -> SparkDF:
    """CORRECTNESS-GATEABLE verification of the one-pass approximate
    quantile path: computes ``percentile_approx`` (Greenwald-Khanna,
    rank error ``eps = 1/accuracy``) and then CHECKS each returned
    boundary against its exact rank interval, emitting one row per
    (group, probability) with a within-bound boolean.

    The GK guarantee is about RANKS, not values (value distance is
    data-dependent), so the check is the guarantee itself: the
    returned element ``v`` for probability ``p`` over ``n`` rows has
    some rank in ``[count(x < v) + 1, count(x <= v)]`` within
    ``eps*n`` of ``p*n`` — i.e. the interval ``[r_lt, r_le]`` must
    overlap ``[p*n - eps*n, p*n + eps*n]``. ``ok`` is that overlap
    test (with +1 slack for the discrete rank grid).

    Output: ``(*by, quantile, n, ok)`` — ``quantile`` is the integer
    ``p * 100``. The tolerance is ENCODED IN THE QUERY, so a DuckDB
    oracle can assert the expected table (group counts x quantiles,
    ok = true) and a value-hash compare proves the approx path
    honors its bound, not just that the exact anchor exists.

    Cost: the sketch pass plus ONE exact rank-counting pass over the
    same scan (the boundaries rejoin as a broadcast — they are
    ``groups x len(probabilities)`` rows). That second pass is the
    price of *verifying*; production profiling uses
    :func:`approx_quantiles` alone."""
    by = list(by or [])
    c = F.col(col).cast("double")
    base = df.where(c.isNotNull()).select(*by, c.alias("__x"))
    qs = base.groupBy(*by).agg(
        F.percentile_approx(
            "__x", F.array(*[F.lit(p) for p in probabilities]),
            F.lit(accuracy)).alias("__qs"))
    bounds = qs.select(*by, F.posexplode("__qs").alias("__i", "__v"))
    joined = (base.join(F.broadcast(bounds), by) if by
              else base.crossJoin(F.broadcast(bounds)))
    counted = (joined.groupBy(*by, "__i")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum((F.col("__x") <= F.col("__v"))
                                .cast("long")).alias("__r_le"),
                          F.sum((F.col("__x") < F.col("__v"))
                                .cast("long")).alias("__r_lt")))
    plit = F.array(*[F.lit(float(p)) for p in probabilities])
    p = F.element_at(plit, F.col("__i") + 1)
    target = p * F.col("n")
    slack = F.col("n") / accuracy + 1
    ok = ((F.col("__r_le") >= target - slack)
          & (F.col("__r_lt") <= target + slack))
    return counted.select(
        *by,
        (p * 100).cast("int").alias("quantile"),
        "n", ok.alias("ok"))


def approx_distinct_check(df: SparkDF, col: str, rsd: float = 0.02,
                          by: list[str] | None = None) -> SparkDF:
    """CORRECTNESS-GATEABLE verification of the HLL++ distinct-count
    path (the third leg after the quantile and histogram gates): one
    aggregation computes BOTH ``approx_count_distinct(col, rsd)`` and
    the exact ``count_distinct`` per group, and emits ``ok`` =
    |estimate - exact| <= max(5 * rsd * exact, 4) — five standard
    errors of the HLL++ guarantee plus an absolute floor for tiny
    groups (where the sketch counts exactly anyway). Output:
    ``(*by, n_distinct, ok)`` — the exact count is real checkable
    content for the oracle; the encoded tolerance makes the sketch's
    bound itself hash-checkable, same doctrine as
    :func:`approx_quantiles_check`.

    The verification pays the exact count's full shuffle — production
    profiling uses :func:`approx_distinct` alone (one pass, tiny
    state, no key-space shuffle)."""
    est = F.approx_count_distinct(col, rsd=rsd)
    exact = F.count_distinct(F.col(col))
    out = df.groupBy(*(by or [])).agg(est.alias("__est"),
                                      exact.alias("n_distinct"))
    ok = (F.abs(F.col("__est") - F.col("n_distinct"))
          <= F.greatest(F.lit(5.0 * rsd) * F.col("n_distinct"),
                        F.lit(4.0)))
    return out.select(*(by or []), "n_distinct", ok.alias("ok"))


def heavy_hitters(df: SparkDF, col: str, k: int = 10,
                  by: list[str] | None = None) -> SparkDF:
    """Top-k most frequent values (exact counts via partial-aggregated
    groupBy, then per-group top-k window — the shuffle carries one row
    per distinct value, not per input row)."""
    from pyspark.sql import Window

    by = by or []
    counts = df.groupBy(*by, col).agg(F.count(F.lit(1)).alias("freq"))
    if by:
        w = Window.partitionBy(*by).orderBy(F.col("freq").desc(),
                                            F.col(col).asc())
        return (counts.withColumn("rank", F.row_number().over(w))
                      .filter(F.col("rank") <= k))
    return counts.orderBy(F.col("freq").desc(), F.col(col).asc()).limit(k)


# ---------------------------------------------------------------------------
# count-min sketch: frequency estimation / heavy hitters, oracle-replayable
# ---------------------------------------------------------------------------

def cms_build(items: SparkDF, col: str, depth: int = 4,
              width: int = 2048, hash_fn: str = "md5") -> SparkDF:
    """Count-min sketch over ``items[col]``: a ``(r, bucket, cnt)``
    table of at most ``depth × width`` rows. Each item increments one
    bucket per hash row; a point estimate is the MIN of its ``depth``
    bucket counters — never an undercount, overcount bounded by
    colliding mass (~N/width per row in expectation).

    Scale: the only exchange is groupBy (r, bucket) — map-side partial
    aggregation collapses every scan task to ≤ depth·width cells
    before the shuffle, so bytes moved are O(tasks · depth · width),
    independent of N. The sketch is mergeable across days/tables by
    summing cnt on (r, bucket) — the streaming/incremental path.

    ``hash_fn='md5'`` gives the bit-identical DuckDB twin (the hash64
    md5 value is 60-bit non-negative, so plain ``%`` agrees across
    engines); ``'xxhash64'`` is the fast production signer.
    """
    from .dedup import hash64

    rows = F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("r")
    return (items.select(F.col(col).alias("__it"), rows)
                 .select("r", F.pmod(hash64(F.col("__it"), F.col("r"),
                                            hash_fn),
                                     F.lit(width)).alias("bucket"))
                 .groupBy("r", "bucket")
                 .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_heavy_check(docs: SparkDF, text_col: str, k: int = 10,
                    depth: int = 4, width: int = 2048,
                    slack_num: int = 8) -> SparkDF:
    """CORRECTNESS-GATEABLE count-min heavy-hitters check (fourth leg
    of the approx-gate family, after quantile/histogram/HLL): build a
    CMS over the corpus's whitespace tokens, then for the EXACT top-k
    most frequent terms emit the exact count, the CMS estimate, and
    ``ok`` = ``freq <= est <= freq + slack_num·ceil(N/width)``. The
    lower bound is a hard CMS guarantee; the upper is the expectation
    bound with ``slack_num``× headroom, deterministic once data and
    (md5) hashes are fixed — same doctrine as
    :func:`approx_distinct_check`: the estimator's error bound is
    itself part of the hashed result.

    The exact top-k shuffle is the verification's cost; production
    heavy-hitter queries use the sketch alone (point lookups against
    depth·width cells).
    """
    from .dedup import hash64
    from .text import normalize_text

    terms = (docs.select(F.explode(F.split(normalize_text(text_col),
                                           " ")).alias("term"))
                 .where(F.col("term") != ""))
    sketch = cms_build(terms, "term", depth=depth, width=width,
                       hash_fn="md5")
    total = terms.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    topk = (terms.groupBy("term")
                 .agg(F.count(F.lit(1)).cast("long").alias("freq"))
                 .orderBy(F.col("freq").desc(), F.col("term").asc())
                 .limit(k))
    probes = (topk.select("term", "freq",
                          F.explode(F.expr(f"sequence(0, {depth - 1})"))
                           .alias("r"))
                  .select("term", "freq", "r",
                          F.pmod(hash64(F.col("term"), F.col("r"), "md5"),
                                 F.lit(width)).alias("bucket")))
    est = (probes.join(F.broadcast(sketch), ["r", "bucket"])
                 .groupBy("term", "freq")
                 .agg(F.min("cnt").alias("est")))
    out = est.crossJoin(F.broadcast(total))
    slack = F.lit(slack_num) * F.ceil(F.col("__n") / F.lit(width))
    ok = ((F.col("est") >= F.col("freq"))
          & (F.col("est") <= F.col("freq") + slack))
    return out.select("term", "freq", "est", ok.alias("ok"))


def cms_heavy_check_sql(table: str, text_expr: str, k: int = 10,
                        depth: int = 4, width: int = 2048,
                        slack_num: int = 8) -> str:
    """DuckDB twin of :func:`cms_heavy_check` (md5 hash64 replay;
    ties in the top-k broken by term ASC on both sides)."""
    from .dedup import hash64_sql

    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    h = hash64_sql("term", "r")
    return f"""
        WITH terms AS (
            SELECT UNNEST(string_split({norm}, ' ')) AS term
            FROM {table}),
        t AS (SELECT term FROM terms WHERE term <> ''),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        rows_ AS (SELECT UNNEST(range(0, {depth})) AS r),
        sketch AS (
            SELECT r, ({h}) % {width} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM t CROSS JOIN rows_
            GROUP BY 1, 2),
        topk AS (
            SELECT term, CAST(count(*) AS BIGINT) AS freq
            FROM t GROUP BY term
            ORDER BY freq DESC, term ASC LIMIT {k}),
        est AS (
            SELECT term, freq, min(cnt) AS est
            FROM (SELECT term, freq, r,
                         ({h}) % {width} AS bucket
                  FROM topk CROSS JOIN rows_) p
            JOIN sketch USING (r, bucket)
            GROUP BY term, freq)
        SELECT term, freq, CAST(est AS BIGINT) AS est,
               (est >= freq AND
                est <= freq + {slack_num} * ceil(CAST(n AS DOUBLE)
                                                 / {width})) AS ok
        FROM est CROSS JOIN total
    """


# ---------------------------------------------------------------------------
# HLL set-algebra: audience overlap by inclusion-exclusion, gated
# ---------------------------------------------------------------------------

def audience_overlap_check(df: SparkDF, set_col: str, key_col: str,
                           lg_k: int = 14,
                           rel_tol: float = 0.10,
                           abs_tol: int = 32) -> SparkDF:
    """CORRECTNESS-GATEABLE audience overlap: for every pair of
    ``set_col`` values (a < b), estimate |A ∩ B| over ``key_col`` by
    HLL inclusion-exclusion — ``est(A) + est(B) − est(A ∪ B)`` with
    the union computed by MERGING the two sketches (never rescanning
    the data: the ad-tech / reach-dedup primitive — per-segment
    sketches are built once, every pairwise overlap is then sketch
    algebra on k·2^lg_k bytes). The hashed output carries the EXACT
    overlap and ``ok`` =
    |est − exact| ≤ max(rel_tol·|A∪B|, abs_tol) — three compounding
    HLL estimates, so the tolerance is wider than the single-sketch
    gate in :func:`approx_distinct_check`. The sketch estimates
    themselves are implementation-defined and stay OUT of the hashed
    columns (same doctrine as every approx gate here).

    The exact pair overlap pays a distinct + self-join on the key —
    verification cost only; production uses the sketch path alone.
    """
    sets = df.select(F.col(set_col).alias("s"),
                     F.col(key_col).cast("string").alias("k")).distinct()
    sk = (sets.groupBy("s")
              .agg(F.hll_sketch_agg("k", F.lit(lg_k)).alias("hll"),
                   F.count(F.lit(1)).cast("long").alias("n_exact")))
    a = sk.select(F.col("s").alias("set_a"), F.col("hll").alias("ha"),
                  F.col("n_exact").alias("na"))
    b = sk.select(F.col("s").alias("set_b"), F.col("hll").alias("hb"),
                  F.col("n_exact").alias("nb"))
    pairs = a.crossJoin(b).where(F.col("set_a") < F.col("set_b"))
    est_a = F.hll_sketch_estimate("ha")
    est_b = F.hll_sketch_estimate("hb")
    est_u = F.hll_sketch_estimate(F.hll_union("ha", "hb"))
    est_both = (est_a + est_b - est_u).alias("__est")
    exact = (sets.alias("x").join(sets.alias("y"), "k")
                 .where(F.col("x.s") < F.col("y.s"))
                 .groupBy(F.col("x.s").alias("set_a"),
                          F.col("y.s").alias("set_b"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    out = (pairs.select("set_a", "set_b", "na", "nb", est_both)
                .join(exact, ["set_a", "set_b"], "left")
                .na.fill({"n_both": 0}))
    union_exact = F.col("na") + F.col("nb") - F.col("n_both")
    ok = (F.abs(F.col("__est") - F.col("n_both"))
          <= F.greatest(F.lit(rel_tol) * union_exact,
                        F.lit(float(abs_tol))))
    return out.select("set_a", "set_b",
                      F.col("na").alias("n_a"),
                      F.col("nb").alias("n_b"),
                      "n_both", ok.alias("ok"))
