"""Sparse LEXICAL similarity and phrase search — the term-space
complement to the dense-embedding operators in ``similarity.py``.

Two families:

- :func:`phrase_match` — exact token-sequence search as a scan-local
  higher-order-function expression: ZERO shuffle, the phrase test
  rides the parquet scan inside whole-stage codegen. The Spark-first
  answer to "which documents contain this phrase" is not an index
  lookup, it's a predicate the scan evaluates in place.
- :func:`term_postings` / :func:`tf_cosine_topk` — a distributed
  inverted index (doc, term, tf) and a "more-like-this" top-k join
  over it. Similarity is TF-cosine**2 computed in EXACT integer
  arithmetic (dot, |a|^2, |b|^2 are all int64 sums), so the ranking
  is bit-identical across engines/partitionings — no floating-point
  summation-order tie flips, which is what usually makes top-k joins
  impossible to oracle-check.

Scale design: postings are one explode + one groupBy; the query-side
⋈ corpus-side term join uses a SHUFFLE_HASH hint (a term list is
never broadcast — Zipf vocabularies are huge); ``max_df`` drops
stop-terms the same way the n-gram Jaccard index caps stop-shingles
(a term in half the corpus contributes candidates quadratically but
similarity negligibly). Candidate pair growth is bounded by the
df-capped postings, never |corpus|^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF, Window, functions as F

from .text import normalize_text

__all__ = [
    "phrase_match",
    "phrase_match_sql",
    "term_postings",
    "term_postings_sql",
    "tf_cosine_topk",
    "tf_cosine_topk_sql",
    "bm25_topk",
    "bm25_topk_sql",
    "term_bucket",
    "postings_write",
    "postings_lookup",
]


# ---------------------------------------------------------------------------
# phrase search (scan-local, zero shuffle)
# ---------------------------------------------------------------------------

def _normalize_phrase(phrase: str) -> list[str]:
    import re

    terms = re.sub(r"\s+", " ", phrase.lower()).strip().split(" ")
    if not terms or terms == [""]:
        raise ValueError("empty phrase")
    return terms


def phrase_match(df: SparkDF, text_col: str, id_col: str,
                 phrase: str) -> SparkDF:
    """Documents containing the exact (normalized) token sequence
    ``phrase``, with occurrence counts — OVERLAPPING occurrences
    included (a sliding positional test, not substring replace).

    Pure Column expressions, no join, no shuffle, no UDF — a
    scan-local projection, evaluated per row in parallel. The count
    is one ``regexp_count`` of a ZERO-WIDTH
    lookaround pattern over the normalized text: ``(?<![^ ])`` pins a
    token start, the lookahead requires the phrase there followed by
    a token boundary, and because every match is zero-width the regex
    engine counts OVERLAPPING occurrences too — same semantics as a
    positional sliding test, at JVM regex speed instead of an
    interpreted per-position array lambda (measured 3.7 s -> sub-1 s
    at sf0.1). The DuckDB twin keeps the positional-list formulation
    (RE2 has no lookaround), which is exactly why the oracle is a
    semantic check, not an implementation echo.
    """
    import re

    terms = _normalize_phrase(phrase)
    pat = ("(?<![^ ])(?="
           + " ".join(re.escape(t) for t in terms)
           + "(?: |$))")
    matches = F.regexp_count(normalize_text(text_col),
                             F.lit(pat)).cast("int")
    return (df.select(F.col(id_col).alias("doc"),
                      matches.alias("n_matches"))
              .where(F.col("n_matches") > 0))


def phrase_match_sql(t: str, id_expr: str, text_expr: str,
                     phrase: str) -> str:
    """DuckDB twin of :func:`phrase_match` (same positional sliding
    test, so overlapping occurrences agree)."""
    terms = _normalize_phrase(phrase)
    k = len(terms)
    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    conj = " AND ".join(f"tk[i + {j}] = '{t}'"
                        for j, t in enumerate(terms))
    return f"""
        WITH tkz AS (
            SELECT {id_expr} AS doc, string_split({norm}, ' ') AS tk
            FROM {t})
        SELECT doc,
               CAST(len(list_filter(range(1, len(tk) - {k - 1} + 1),
                                    i -> {conj})) AS INT) AS n_matches
        FROM tkz
        WHERE len(list_filter(range(1, len(tk) - {k - 1} + 1),
                              i -> {conj})) > 0
    """


# ---------------------------------------------------------------------------
# inverted index + sparse top-k similarity join
# ---------------------------------------------------------------------------

def term_postings(df: SparkDF, text_col: str, id_col: str) -> SparkDF:
    """(doc, term, tf) inverted-index postings over normalized
    whitespace tokens. One explode + one groupBy (single shuffle);
    empty tokens dropped."""
    return (df.select(F.col(id_col).alias("doc"),
                      F.explode(F.split(normalize_text(text_col), " "))
                       .alias("term"))
              .where(F.col("term") != "")
              .groupBy("doc", "term")
              .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def term_postings_sql(t: str, id_expr: str, text_expr: str) -> str:
    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    return f"""
        SELECT {id_expr} AS doc, UNNEST(string_split({norm}, ' ')) AS term
        FROM {t}
    """


def tf_cosine_topk(
    corpus: SparkDF,
    queries: SparkDF,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_df: int | None = None,
) -> SparkDF:
    """More-like-this: for each query document, the top-``k`` corpus
    documents by TF-cosine**2 similarity
    ``dot(q,c)^2 / (|q|^2 * |c|^2)`` over term-frequency vectors.

    EXACT ranking: dot and both squared norms are int64 sums, their
    double quotient is a single correctly-rounded IEEE division —
    bit-identical in any engine — and ties break on ascending corpus
    doc id. Self-pairs are excluded.

    Plan: postings join on term (SHUFFLE_HASH — term dimension is
    never broadcast), partial-aggregated dot per (query, corpus) pair,
    norm joins on doc, one window per query doc for top-k. ``max_df``
    drops corpus stop-terms before the join (the n-gram index's
    stop-shingle trick); candidate growth is sum over terms of
    df(term)*qf(term), never |corpus|^2.
    """
    cp = term_postings(corpus, text_col, id_col)
    qp = term_postings(queries, text_col, id_col)
    if max_df is not None:
        dfc = (cp.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("__df"))
                 .where(F.col("__df") <= max_df)
                 .select("term"))
        cp = cp.join(dfc.hint("shuffle_hash"), "term")

    cn = cp.groupBy("doc").agg(F.sum(F.col("tf") * F.col("tf"))
                                .alias("n2"))
    qn = qp.groupBy("doc").agg(F.sum(F.col("tf") * F.col("tf"))
                                .alias("n2"))

    q = qp.select(F.col("doc").alias("q_doc"), "term",
                  F.col("tf").alias("q_tf"))
    c = cp.select(F.col("doc").alias("c_doc"), "term",
                  F.col("tf").alias("c_tf"))
    dots = (q.join(c.hint("shuffle_hash"), "term")
             .where(F.col("q_doc") != F.col("c_doc"))
             .groupBy("q_doc", "c_doc")
             .agg(F.sum(F.col("q_tf") * F.col("c_tf")).alias("dot")))
    scored = (dots
              .join(qn.select(F.col("doc").alias("q_doc"),
                              F.col("n2").alias("q_n2")), "q_doc")
              .join(cn.select(F.col("doc").alias("c_doc"),
                              F.col("n2").alias("c_n2")), "c_doc")
              .withColumn("score",
                          (F.col("dot") * F.col("dot")).cast("double")
                          / (F.col("q_n2") * F.col("c_n2"))
                            .cast("double")))
    w = Window.partitionBy("q_doc").orderBy(F.col("score").desc(),
                                            F.col("c_doc").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("q_doc", "c_doc", "dot",
                          (F.floor(F.col("score") * 1_000_000)
                           / 1_000_000).alias("score"),
                          F.col("rank").cast("int").alias("rank")))


def tf_cosine_topk_sql(t: str, id_expr: str, text_expr: str,
                       query_pred: str, k: int = 5) -> str:
    """DuckDB twin of :func:`tf_cosine_topk` (no ``max_df``; queries
    are the rows of ``t`` satisfying ``query_pred``). Integer dot /
    norms make the ranking exact, so the window agrees with Spark."""
    postings = term_postings_sql(t, id_expr, text_expr)
    return f"""
        WITH terms AS ({postings}),
        p AS (
            SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
            FROM terms WHERE term <> ''
            GROUP BY doc, term),
        norms AS (
            SELECT doc, sum(tf * tf) AS n2 FROM p GROUP BY doc),
        qdocs AS (
            SELECT {id_expr} AS doc FROM {t} WHERE {query_pred}),
        dots AS (
            SELECT q.doc AS q_doc, c.doc AS c_doc,
                   CAST(sum(q.tf * c.tf) AS BIGINT) AS dot
            FROM p q
            JOIN p c USING (term)
            WHERE q.doc IN (SELECT doc FROM qdocs)
              AND q.doc <> c.doc
            GROUP BY q.doc, c.doc),
        scored AS (
            SELECT d.*,
                   CAST(dot * dot AS DOUBLE)
                       / CAST(nq.n2 * nc.n2 AS DOUBLE) AS score
            FROM dots d
            JOIN norms nq ON nq.doc = d.q_doc
            JOIN norms nc ON nc.doc = d.c_doc),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY q_doc
                       ORDER BY score DESC, c_doc ASC) AS rank
            FROM scored)
        SELECT q_doc, c_doc, dot,
               FLOOR(score * 1000000) / 1000000 AS score,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# persisted inverted index (term-hash-partitioned layout)
# ---------------------------------------------------------------------------

def _bucket_col(term_col: Column, num_buckets: int) -> Column:
    """md5-derived bucket (first 15 hex chars as bigint, mod buckets).
    md5 so the bucket of a QUERY term is computable client-side
    (:func:`term_bucket`) without a Spark job — the same
    cross-engine-portable hash the dedup family uses."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit("0:"), term_col)
                                  .cast("binary")), 1, 15), 16, 10) \
         .cast("bigint")
    return F.pmod(h, F.lit(num_buckets))


def term_bucket(term: str, num_buckets: int) -> int:
    """Client-side twin of the partition bucket for one term."""
    import hashlib

    h = int(hashlib.md5(f"0:{term}".encode()).hexdigest()[:15], 16)
    return h % num_buckets


def postings_write(df: SparkDF, text_col: str, id_col: str, path: str,
                   num_buckets: int = 64, mode: str = "overwrite") -> None:
    """Materialize the inverted index PARTITIONED BY term-hash bucket
    — one directory per bucket. The on-disk half of the retrieval
    claim: a lookup for q query terms opens at most q of
    ``num_buckets`` directories (directory-level pruning at planning
    time), so a term lookup reads ~q/num_buckets of the index
    bytes whatever the corpus size. Same layout
    pattern as ``ivf.ivf_write``; the pruning is pytest-witnessed
    from the scan node, not argued."""
    tp = term_postings(df, text_col, id_col)
    (tp.withColumn("bucket", _bucket_col(F.col("term"), num_buckets))
       .write.mode(mode).partitionBy("bucket").parquet(path))


def postings_lookup(spark, path: str, terms: list[str],
                    num_buckets: int = 64) -> SparkDF:
    """Look up postings for ``terms`` from a
    :func:`postings_write`-materialized index. The bucket predicate is
    computed CLIENT-side (md5 twin) and lands in the scan's partition
    filters; the term predicate prunes row groups via min/max stats
    within the opened buckets."""
    buckets = sorted({term_bucket(t, num_buckets) for t in terms})
    return (spark.read.parquet(path)
            .where(F.col("bucket").isin(buckets)
                   & F.col("term").isin(terms))
            .select("doc", "term", "tf"))


# ---------------------------------------------------------------------------
# BM25 (exact rational arithmetic)
# ---------------------------------------------------------------------------

def bm25_topk(
    corpus: SparkDF,
    queries: SparkDF,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_df: int | None = None,
) -> SparkDF:
    """Okapi BM25 more-like-this: for each query document the
    top-``k`` corpus documents by BM25 with the standard constants
    k1 = 1.2, b = 0.75 — made CROSS-ENGINE EXACT by keeping every
    factor rational. With document length ``dl``, corpus total length
    ``L`` over ``N`` docs (so avgdl = L/N), term frequency ``tf`` and
    document frequency ``df``:

        idf   = (N - df + 1/2) / (df + 1/2)        -> (2N-2df+1)/(2df+1)
        tfac  = tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
              -> 22*tf*L / (10*tf*L + 3*L + 9*dl*N)   (all int64)

    Each term contributes ``floor(1e6 * (idf_num * tfac_num) /
    (idf_den * tfac_den))`` micro-units, and the per-document score is
    an int64 SUM of those — partition-order independent, so a BM25
    ranking is value-hash-checkable like the TF-cosine one. The
    classic-idf log is deliberately traded for its rational core:
    monotone in df the same way, exactly comparable.

    Precision contract (two distinct bounds):

    - *Exact-rational* claim: holds while every int64 factor fits in
      a double without rounding, i.e. ``22*tf*L < 2^53`` (and the
      analogous denominator terms) — roughly ``tf * L < 4e14``
      token-units of corpus mass.
    - *Cross-engine bit-identity*: holds further, up to int64
      OVERFLOW of ``22*tf*L < 2^63`` (~``tf * L < 4e17``), because
      int64→double casts and the single fixed-order multiply/divide
      are correctly-rounded IEEE-754 ops that Spark (JVM) and DuckDB
      (C++) evaluate identically — past 2^53 the contrib is a rounded
      rational, but the SAME rounded rational in both engines.

    Past ~4e17 token-units, pre-aggregate per-shard or switch the L
    factor to decimal(38,0) arithmetic.

    Plan shape identical to :func:`tf_cosine_topk`: postings
    SHUFFLE_HASH join on term, partial-aggregated per-pair sum, one
    window per query doc; N and L ride the plan as a broadcast 1-row
    aggregate. ``max_df`` drops corpus stop-terms pre-join."""
    # NB: `cp` is deliberately NOT persisted although doc lengths,
    # corpus stats, df and the scoring join each reference it. A/B
    # at sf1 (r12, solo min-of-2): unpersisted 11.5 s vs persisted
    # 12.7 s — Catalyst prunes each recompute to the columns that
    # reference needs (term-only for df, doc+tf for lengths) and the
    # codegen'd tokenize+partial-agg beats re-reading a full-width
    # 50M-row cache three times. Same verdict as the array-based
    # verify alternative documented in dedup.jaccard_pairs_prefix.
    cp = term_postings(corpus, text_col, id_col)
    qp = term_postings(queries, text_col, id_col)
    if max_df is not None:
        dfc = (cp.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("__df"))
                 .where(F.col("__df") <= max_df)
                 .select("term"))
        cp = cp.join(dfc.hint("shuffle_hash"), "term")
    dl = cp.groupBy("doc").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_len"))
    dfreq = cp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    q = qp.select(F.col("doc").alias("q_doc"), "term")
    scored_terms = (q.join(cp.hint("shuffle_hash")
                            .select(F.col("doc").alias("c_doc"),
                                    "term", "tf"), "term")
                     .where(F.col("q_doc") != F.col("c_doc"))
                     .join(dfreq.hint("shuffle_hash"), "term")
                     .join(dl.select(F.col("doc").alias("c_doc"),
                                     "dl"), "c_doc")
                     .crossJoin(F.broadcast(stats)))
    n, L = F.col("n_docs"), F.col("total_len")
    idf_num = (2 * n - 2 * F.col("df") + 1).cast("double")
    idf_den = (2 * F.col("df") + 1).cast("double")
    tf_num = (22 * F.col("tf") * L).cast("double")
    tf_den = (10 * F.col("tf") * L + 3 * L
              + 9 * F.col("dl") * n).cast("double")
    contrib = F.floor(F.lit(1_000_000) * (idf_num * tf_num)
                      / (idf_den * tf_den))
    pairs = (scored_terms
             .select("q_doc", "c_doc", contrib.alias("c"))
             .groupBy("q_doc", "c_doc")
             .agg(F.sum("c").alias("bm25_micro")))
    w = Window.partitionBy("q_doc").orderBy(
        F.col("bm25_micro").desc(), F.col("c_doc").asc())
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
                 .where(F.col("rank") <= k))


def bm25_topk_sql(t: str, id_expr: str, text_expr: str,
                  query_pred: str, k: int = 5) -> str:
    """DuckDB twin of :func:`bm25_topk` (no ``max_df``; queries are
    the rows of ``t`` satisfying ``query_pred``)."""
    postings = term_postings_sql(t, id_expr, text_expr)
    return f"""
        WITH terms AS ({postings}),
        p AS (
            SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
            FROM terms WHERE term <> ''
            GROUP BY doc, term),
        dl AS (SELECT doc, sum(tf) AS dl FROM p GROUP BY doc),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                  FROM p GROUP BY term),
        qdocs AS (SELECT {id_expr} AS doc FROM {t} WHERE {query_pred}),
        st AS (
            SELECT q.doc AS q_doc, c.doc AS c_doc,
                   CAST(FLOOR(1000000.0
                        * (CAST(2 * s.n_docs - 2 * f.df + 1 AS DOUBLE)
                           * CAST(22 * c.tf * s.total_len AS DOUBLE))
                        / (CAST(2 * f.df + 1 AS DOUBLE)
                           * CAST(10 * c.tf * s.total_len
                                  + 3 * s.total_len
                                  + 9 * d.dl * s.n_docs AS DOUBLE)))
                        AS BIGINT) AS c
            FROM p q
            JOIN p c USING (term)
            JOIN dfreq f USING (term)
            JOIN dl d ON d.doc = c.doc
            CROSS JOIN stats s
            WHERE q.doc IN (SELECT doc FROM qdocs)
              AND q.doc <> c.doc),
        pairs AS (
            SELECT q_doc, c_doc, CAST(sum(c) AS BIGINT) AS bm25_micro
            FROM st GROUP BY q_doc, c_doc),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                       PARTITION BY q_doc
                       ORDER BY bm25_micro DESC, c_doc ASC) AS INT)
                       AS rank
            FROM pairs)
        SELECT q_doc, c_doc, bm25_micro, rank
        FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# keyword extraction
# ---------------------------------------------------------------------------

def keyword_topk(df: SparkDF, text_col: str, id_col: str,
                 k: int = 3) -> SparkDF:
    """Top-``k`` characteristic terms per document by LOG-FREE tf·idf:
    ``score = tf · ((1e6·N) div df)`` — raw inverse document
    frequency in integer micro-units instead of ``log(N/df)`` (repo
    doctrine: no transcendentals in oracle-checked outputs; the
    ordering is what keyword extraction consumes, and both are
    monotone in 1/df at fixed tf). Ties break on the term string so
    the result is total-ordered.

    Plan: one explode + (doc, term) tf groupBy, a term-cardinality
    document-frequency aggregate joined back (shuffle on term), the
    corpus size riding as a broadcast 1-row aggregate, then a
    row_number window partitioned by the HIGH-cardinality doc key —
    every stage's parallelism grows with the corpus.
    """
    from pyspark.sql import Window

    post = term_postings(df, text_col, id_col)
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("__df"))
    ndocs = df.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    scored = (post.join(dfreq, "term")
                  .crossJoin(F.broadcast(ndocs))
                  .withColumn("score_micro",
                              F.col("tf")
                              * F.expr("(1000000 * __n) div __df")))
    w = Window.partitionBy("doc").orderBy(
        F.col("score_micro").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(F.col("doc").alias(id_col),
                          F.col("rank").cast("int").alias("rank"),
                          "term", "score_micro"))


def keyword_topk_sql(t: str, id_expr: str, text_expr: str,
                     k: int = 3) -> str:
    """DuckDB twin of :func:`keyword_topk` (identical tokenization,
    idf rational, and (score DESC, term ASC) total order)."""
    return f"""
        WITH post AS (
            SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
            FROM ({term_postings_sql(t, id_expr, text_expr)})
            WHERE term <> '' GROUP BY doc, term),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM post GROUP BY term),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {t}),
        scored AS (
            SELECT p.doc, p.term,
                   p.tf * ((1000000 * nd.n) // d.df) AS score_micro,
                   row_number() OVER (
                       PARTITION BY p.doc
                       ORDER BY p.tf * ((1000000 * nd.n) // d.df)
                                DESC, p.term ASC) AS rank
            FROM post p JOIN dfreq d USING (term) CROSS JOIN nd)
        SELECT doc AS {id_expr}, CAST(rank AS INT) AS rank, term,
               score_micro
        FROM scored WHERE rank <= {k}
    """
