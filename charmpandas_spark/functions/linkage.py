"""Entity resolution / record linkage: blocked candidate generation
plus Jaro-Winkler scoring.

Spark has ``levenshtein`` and ``soundex`` built in but no
Jaro-Winkler — the de-facto standard name-matching score (Winkler
1990, the Census Bureau linkage metric). This implements the standard
variant (match window ``max(l1,l2)//2 - 1``, transposition halving,
prefix bonus ``min(4, prefix)·0.1·(1-jaro)`` applied when jaro > 0.7)
as an Arrow-batched pandas UDF — the documented "UDFs are the slow
path" escape hatch, used ONLY on post-blocking candidate pairs, never
on the cross product.

Plan shape: candidates come from an equi-join on a blocking key
(here: a cheap deterministic feature of the name), so the quadratic
blow-up is bounded per block and the join is an ordinary hash
shuffle AQE can split; the Python scorer then runs
scan-local on the (small) candidate set. This is the classic
Fellegi-Sunter pipeline shape: block -> score -> threshold.

The oracle twin is DuckDB's native ``jaro_winkler_similarity`` (same
variant); scores are emitted as ``FLOOR(jw * 100)`` basis points so a
sub-ULP disagreement between two IEEE implementations cannot flip the
hashed value off a coarse grid.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame as SparkDF, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # DuckDB convention: empty (even vs empty) -> 0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags2 = [False] * l2
    m1 = []
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags2[j] = True
                m1.append(c)
                break
    m = len(m1)
    if m == 0:
        return 0.0
    m2 = [s2[j] for j in range(l2) if flags2[j]]
    t = sum(a != b for a, b in zip(m1, m2)) // 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1,
                 boost_threshold: float = 0.7) -> float:
    """Standard Jaro-Winkler similarity in [0, 1] (the DuckDB /
    RapidFuzz variant: 4-char prefix cap, bonus only above the 0.7
    boost threshold)."""
    j = _jaro(s1, s2)
    if j <= boost_threshold:
        return j
    p = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        p += 1
    return j + p * prefix_weight * (1.0 - j)


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series([jaro_winkler(a if a is not None else "",
                                   b if b is not None else "")
                      for a, b in zip(s1, s2)])


def er_block_candidates(df: SparkDF, id_col: str, name_col: str,
                        block_col,
                        threshold_bp: int | None = None) -> SparkDF:
    """Candidate stage of :func:`er_jaro_winkler_pairs`, exposed so
    the length band's selectivity is pytest-observable.

    JVM-side LOSSLESS length-and-prefix band (r10, VERDICT r9 #7):
    at most ``m = lmin`` characters can match and transpositions
    only lower the score, so ``j <= (2 + lmin/lmax)/3``; the Winkler
    bonus is ``p * 0.1 * (1 - j)`` with ``p`` = shared-prefix length
    capped at 4 — and ``p`` is EXACTLY computable JVM-side (4
    substring equalities). ``jw <= (1 - p/10) * (2 + r)/3 + p/10``
    (monotone in ``j``, so the bound holds whether or not the
    ``j > 0.7`` bonus gate fires). ``floor(jw*100) >= T`` therefore
    forces the integer condition
    ``10*(10-p)*(2*lmax + lmin) + 30*p*lmax >= 3*T*lmax`` — pairs
    failing it are cut BEFORE the Python scorer, inside the block
    join. At the registry's T=80 with no shared first char this is
    ``lmin >= 0.4*lmax``; at T=90 it is ``lmin >= 0.7*lmax``.
    Engaged when ``T > 67`` (at 67 even p=0, r=0 passes — the bound
    is vacuous below). A shared-bigram gate was considered and
    REJECTED: Jaro matches are not contiguous, so zero shared
    bigrams does not bound jw — it would be a lossy prune and break
    oracle parity."""
    side = df.select(F.col(id_col).alias("id"),
                     F.col(name_col).alias("nm"),
                     block_col.alias("blk"))
    a = side.select(F.col("id").alias("id_a"),
                    F.col("nm").alias("nm_a"), "blk")
    b = side.select(F.col("id").alias("id_b"),
                    F.col("nm").alias("nm_b"), "blk")
    cand = (a.join(b, "blk")
             .where(F.col("id_a") < F.col("id_b"))
             .where(F.col("nm_a") != F.col("nm_b")))
    if threshold_bp is not None and threshold_bp > 67:
        la, lb = F.length("nm_a"), F.length("nm_b")
        lmin, lmax = F.least(la, lb), F.greatest(la, lb)
        p = sum(F.when(F.substring("nm_a", 1, i)
                       == F.substring("nm_b", 1, i), 1).otherwise(0)
                for i in range(1, 5))
        cand = cand.where(
            (F.lit(10) - p) * (lmax * 2 + lmin) * 10 + p * 30 * lmax
            >= 3 * threshold_bp * lmax)
    return cand


def er_jaro_winkler_pairs(df: SparkDF, id_col: str, name_col: str,
                          block_col, threshold_bp: int = 90) -> SparkDF:
    """Blocked Jaro-Winkler linkage: pairs (a < b by id) sharing a
    block key, scored by :func:`jaro_winkler_udf`, kept when
    ``floor(jw·100) >= threshold_bp``. Returns
    ``(id_a, id_b, jw_bp)``. ``block_col`` is any deterministic
    Column expression over the row (blocking quality is the recall
    knob — standard ER practice is to union several cheap blockers).
    The lossless length band in :func:`er_block_candidates` cuts
    size-incompatible pairs JVM-side before the Python scorer.
    """
    cand = er_block_candidates(df, id_col, name_col, block_col,
                               threshold_bp)
    jw = jaro_winkler_udf(F.col("nm_a"), F.col("nm_b"))
    scored = cand.withColumn(
        "jw_bp", F.floor(jw * 100).cast("long"))
    return (scored.where(F.col("jw_bp") >= threshold_bp)
                  .select("id_a", "id_b", "jw_bp"))


def er_jaro_winkler_pairs_sql(t: str, id_expr: str, name_expr: str,
                              block_expr: str,
                              threshold_bp: int = 90) -> str:
    """DuckDB twin of :func:`er_jaro_winkler_pairs` (native
    ``jaro_winkler_similarity`` — same standard variant)."""
    return f"""
        WITH side AS (
            SELECT {id_expr} AS id, {name_expr} AS nm,
                   {block_expr} AS blk
            FROM {t}),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b, a.nm AS nm_a,
                   b.nm AS nm_b
            FROM side a JOIN side b USING (blk)
            WHERE a.id < b.id AND a.nm <> b.nm)
        SELECT id_a, id_b,
               CAST(floor(jaro_winkler_similarity(nm_a, nm_b) * 100)
                    AS BIGINT) AS jw_bp
        FROM cand
        WHERE floor(jaro_winkler_similarity(nm_a, nm_b) * 100)
              >= {threshold_bp}
    """


__all__ = ["jaro_winkler", "jaro_winkler_udf", "er_block_candidates",
           "er_jaro_winkler_pairs", "er_jaro_winkler_pairs_sql"]
