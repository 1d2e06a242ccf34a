"""Chi-square token-label feature selection.

Beyond the reference surface (north star): the classic
filter-method feature selector (Manning/Schuetze/Raghavan IR ch.13)
— for every (token, label) pair, how non-independent is token
presence from the label? The top-chi2 tokens per label are the
discriminative vocabulary a quality classifier, domain router, or
contamination probe trains on — and the cheap way to explain WHY a
source/cluster differs from the rest of a corpus.

2x2 contingency per (token, label), counting DOCUMENTS (presence,
not frequency):

    n11 = docs with token, with label      n10 = n1. - n11
    n01 = docs with label, without token   n00 = N - n1. - n.1 + n11
    chi2 = N * (n11*n00 - n10*n01)^2
           / ((n11+n10)*(n01+n00)*(n11+n01)*(n10+n00))

Determinism doctrine: all counts are exact BIGINTs; chi2 is ONE
pinned-order IEEE-double expression (left-associative products, one
division) floored to milli-units — bit-identical in DuckDB, same
trick as the equi-width histogram. Integer intermediates (the
``n11*n00`` style products) stay exact while N < ~3e9 documents; a
corpus beyond that swaps the products to DECIMAL(38,0) (knob, not
needed at tested scales). Cells whose denominator is zero (a token
in every doc, or a label covering the whole corpus) are undefined
and dropped via ``nullif``.

Plan shape: one explode over per-document DISTINCT
tokens (``array_distinct`` inside the row — no extra dedup
exchange), one (token, label) aggregation (map-side combined), the
per-token totals as a WINDOW over that same table's token exchange
(r18 — no separate vocab aggregate, no vocab join, and a vocabulary
is still never broadcast), label totals (+ N via a global window
over the label-cardinality rows) broadcast. The final top-k window
partitions by LABEL over the scored-cell table (vocab x labels),
which a df-style ``min_df`` cut keeps bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

from .text import normalize_text

__all__ = ["chi2_tokens", "chi2_tokens_sql"]

# pinned-order chi2 expression shared (textually) by both engines:
# products are left-associative in Spark SQL and DuckDB alike, so the
# rounding sequence is identical.
_CHI2 = ("floor(1000.0 * (cast(__n as double)"
         " * cast(n11*n00 - n10*n01 as double)"
         " * cast(n11*n00 - n10*n01 as double))"
         " / nullif(cast((n11+n10)*(n01+n00) as double)"
         " * cast((n11+n01)*(n10+n00) as double), 0.0))")


def chi2_tokens(df: SparkDF, text_col: str, id_col: str,
                label_col: str, top_k: int = 5,
                min_df: int = 2) -> SparkDF:
    """Top-``top_k`` tokens per label by chi-square association,
    ``(label, token, n11, n10, n01, n00, chi2_milli, rank)``.

    ``min_df`` drops tokens in fewer than that many documents before
    scoring (hapaxes dominate raw chi2 rankings and bloat the scored
    table; 2 is the standard floor). Ties break on token asc."""
    toks = (df.select(F.col(label_col).alias("label"),
                      F.explode(F.array_distinct(F.split(
                          normalize_text(text_col), " ")))
                       .alias("token"))
              .where(F.col("token") != ""))
    cell = (toks.groupBy("token", "label")
                .agg(F.count(F.lit(1)).alias("n11")))
    # r18 (the dsir conditional-aggregate fusion, VERDICT r17 #7):
    # the per-token total __n1 rides a window OVER THE SAME
    # exchange-by-token the old tok_n join needed — the separate
    # groupBy(token) aggregate re-derived the whole explode+groupBy
    # cell subtree (the static planner duplicated it), and its
    # shuffle_hash join shipped the vocab twice. Likewise the corpus
    # total __n is the global-window sum of the label-cardinality
    # table instead of a third full scan of df. Identical int64
    # values: sum(n11) over token == the re-aggregated tok_n; the
    # min_df filter sees the same totals.
    wtok = Window.partitionBy("token")
    celln = (cell.withColumn("__n1", F.sum("n11").over(wtok))
                 .where(F.col("__n1") >= min_df))
    lab_n = (df.groupBy(F.col(label_col).alias("label"))
               .agg(F.count(F.lit(1)).alias("__nl"))
               .withColumn("__n",
                           F.sum("__nl").over(Window.partitionBy())))
    scored = (celln.join(F.broadcast(lab_n), "label")
                   .withColumn("n10", F.expr("__n1 - n11"))
                   .withColumn("n01", F.expr("__nl - n11"))
                   .withColumn("n00", F.expr("__n - __n1 - __nl + n11"))
                   .withColumn("chi2_milli",
                               F.expr(_CHI2).cast("bigint"))
                   .where(F.col("chi2_milli").isNotNull()))
    w = Window.partitionBy("label").orderBy(
        F.col("chi2_milli").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= top_k)
                  .select("label", "token", "n11", "n10", "n01",
                          "n00", "chi2_milli", "rank"))


def chi2_tokens_sql(t: str, id_expr: str, label_expr: str,
                    top_k: int = 5, min_df: int = 2) -> str:
    """DuckDB twin: identical normalize/distinct-token explode,
    identical pinned-order chi2 double expression and milli floor."""
    norm = f"trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
        WITH toks AS (
            SELECT {label_expr} AS label,
                   unnest(list_distinct(string_split({norm}, ' ')))
                       AS token
            FROM {t}),
        cell AS (
            SELECT token, label, CAST(count(*) AS BIGINT) AS n11
            FROM toks WHERE token <> '' GROUP BY token, label),
        tok_n AS (
            SELECT token, CAST(sum(n11) AS BIGINT) AS n1
            FROM cell GROUP BY token
            HAVING sum(n11) >= {min_df}),
        lab_n AS (
            SELECT {label_expr} AS label,
                   CAST(count(*) AS BIGINT) AS nl
            FROM {t} GROUP BY label),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS __n FROM {t}),
        scored AS (
            SELECT c.label, c.token, c.n11,
                   t1.n1 - c.n11 AS n10,
                   l.nl - c.n11 AS n01,
                   t2.__n - t1.n1 - l.nl + c.n11 AS n00,
                   t2.__n AS __n
            FROM cell c
            JOIN tok_n t1 USING (token)
            JOIN lab_n l ON l.label = c.label
            CROSS JOIN tot t2),
        chi AS (
            SELECT label, token, n11, n10, n01, n00,
                   CAST({_CHI2} AS BIGINT) AS chi2_milli
            FROM scored),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY label
                       ORDER BY chi2_milli DESC, token ASC) AS rank
            FROM chi WHERE chi2_milli IS NOT NULL)
        SELECT label, token, n11, n10, n01, n00, chi2_milli, rank
        FROM ranked WHERE rank <= {top_k}
    """
