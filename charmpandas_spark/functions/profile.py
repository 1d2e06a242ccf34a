"""Dataset profiling — the "look before you train" operators: one-scan
per-column statistics and exact equi-width histograms. A profile is
ONE pass over the data with partial aggregation, never a per-column
loop of jobs; both operators here compile to a single scan + single
reduce.

The reference engine has no profiler — this is beyond-reference
pipeline surface (every curation run starts by profiling the crawl).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF, functions as F
from pyspark.sql import types as T

__all__ = [
    "profile_columns",
    "profile_columns_sql",
    "histogram_equiwidth",
    "histogram_equiwidth_sql",
    "histogram_equidepth",
    "histogram_equidepth_sql",
    "histogram_equidepth_approx",
    "pii_scan",
    "pii_scan_sql",
    "join_blowup_profile",
    "join_blowup_profile_sql",
    "group_quantiles",
    "group_quantiles_sql",
    "weighted_quantiles",
    "weighted_quantiles_sql",
    "mad_outliers",
    "mad_outliers_sql",
    "impute",
    "impute_sql",
    "concentration_profile",
    "concentration_profile_sql",
]


def profile_columns(df: SparkDF, cols: list[str] | None = None) -> SparkDF:
    """Long-format profile ``(column, n_rows, n_null, n_distinct,
    min_num, max_num, min_str, max_str)`` for each requested column —
    numeric min/max as double, string min/max verbatim (never
    cross-format a double through a string: engine float formatting
    differs, values don't).

    ONE scan, one job, no Expand: a single ``agg`` with N exact
    ``count_distinct``s compiles to Spark's multi-distinct plan — a
    |cols|+1-way Expand of every row followed by WIDE SortAggregates
    (string min/max buffers disqualify hash aggregation), measured
    ~8 s on 600 k rows. Instead the row is exploded once into a
    NARROW long format ``(column, vnum, vstr, isnull)`` and profiled
    with a two-level HASH aggregation: level 1 groups by value
    (map-side partials collapse the stream to ~distinct values per
    column before the only full-width shuffle), level 2 folds the
    per-value counts into the per-column stats — ``n_distinct`` is a
    row count of level 1, min/max run over distinct values only.
    Same exactness, hash-aggregable all the way down, and the shuffle
    volume is bounded by distinct values, not rows x columns.
    """
    if cols is None:
        cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType,
                              (T.NumericType, T.StringType))]
    entries = []
    for c in cols:
        numeric = isinstance(df.schema[c].dataType, T.NumericType)
        entries.append(F.struct(
            F.lit(c).alias("column"),
            (F.col(c).cast("double") if numeric
             else F.lit(None).cast("double")).alias("vnum"),
            (F.col(c) if not numeric
             else F.lit(None).cast("string")).alias("vstr"),
            F.col(c).isNull().cast("bigint").alias("isnull")))
    long = (df.select(F.explode(F.array(*entries)).alias("e"))
              .select("e.*"))
    per_value = (long.groupBy("column", "vnum", "vstr", "isnull")
                     .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_value.groupBy("column")
            .agg(F.sum("cnt").alias("n_rows"),
                 F.sum(F.col("cnt") * F.col("isnull")).alias("n_null"),
                 F.count(F.when(F.col("isnull") == 0, F.lit(1)))
                  .alias("n_distinct"),
                 F.min("vnum").alias("min_num"),
                 F.max("vnum").alias("max_num"),
                 F.min("vstr").alias("min_str"),
                 F.max("vstr").alias("max_str")))


def profile_columns_sql(t: str, cols: list[str],
                        numeric: set[str]) -> str:
    """DuckDB twin: UNION ALL of per-column aggregates (DuckDB fuses
    them over one scan; the Spark side's single-agg shape is the part
    under test, the twin only has to agree on values)."""
    parts = []
    for c in cols:
        mn = (f"CAST(min({c}) AS DOUBLE)" if c in numeric
              else "CAST(NULL AS DOUBLE)")
        mx = (f"CAST(max({c}) AS DOUBLE)" if c in numeric
              else "CAST(NULL AS DOUBLE)")
        ms = ("CAST(NULL AS VARCHAR)" if c in numeric else f"min({c})")
        xs = ("CAST(NULL AS VARCHAR)" if c in numeric else f"max({c})")
        parts.append(f"""
            SELECT '{c}' AS column,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   {mn} AS min_num, {mx} AS max_num,
                   {ms} AS min_str, {xs} AS max_str
            FROM {t}""")
    return " UNION ALL ".join(parts)


def histogram_equiwidth(df: SparkDF, col: str, bins: int,
                        lo: float | None = None,
                        hi: float | None = None) -> SparkDF:
    """Exact equi-width histogram ``(bin, lo, hi, n)`` with ``bins``
    buckets over ``[lo, hi]`` (bounds default to the column min/max,
    riding the plan as a broadcast 1-row aggregate — no eager job).

    Bin assignment is ``least(bins-1, floor((x - lo) * bins /
    (hi - lo)))`` — three IEEE double ops in a fixed order, so the
    assignment is bit-identical across engines (the histogram oracle
    mirrors the exact expression). One scan, one partial-aggregated
    groupBy on a small integer key; empty bins are filled by a
    sequence explode of the bounds row, not a second scan."""
    c = F.col(col).cast("double")
    if lo is None or hi is None:
        bounds = df.agg(F.min(c).cast("double").alias("__lo"),
                        F.max(c).cast("double").alias("__hi"))
    else:
        bounds = df.sparkSession.range(1).select(
            F.lit(float(lo)).alias("__lo"), F.lit(float(hi)).alias("__hi"))
    b = df.select(c.alias("__x")).where(F.col("__x").isNotNull()) \
          .crossJoin(F.broadcast(bounds)) \
          .where((F.col("__x") >= F.col("__lo"))
                 & (F.col("__x") <= F.col("__hi")))
    # degenerate range (constant column): everything bins to 0 — the
    # raw expression would divide by zero under ANSI mode (found by
    # the hypothesis replay test)
    width_bin = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.floor((F.col("__x") - F.col("__lo")) * F.lit(float(bins))
                    / (F.col("__hi") - F.col("__lo"))).cast("int")))
    counts = (b.select(width_bin.alias("bin"))
               .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))
    scaffold = (bounds
                .select(F.explode(F.sequence(F.lit(0), F.lit(bins - 1)))
                         .alias("bin"), "__lo", "__hi")
                .select("bin",
                        (F.col("__lo") + F.col("bin")
                         * (F.col("__hi") - F.col("__lo"))
                         / F.lit(float(bins))).alias("lo"),
                        (F.col("__lo") + (F.col("bin") + 1)
                         * (F.col("__hi") - F.col("__lo"))
                         / F.lit(float(bins))).alias("hi")))
    return (scaffold.join(counts, "bin", "left")
            .select(F.col("bin").cast("int").alias("bin"), "lo", "hi",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n")))


def histogram_equiwidth_sql(t: str, x_expr: str, bins: int) -> str:
    """DuckDB twin (auto bounds): identical double-op order for the
    bin assignment and the scaffold bounds."""
    return f"""
        WITH bounds AS (
            SELECT CAST(min({x_expr}) AS DOUBLE) AS b_lo,
                   CAST(max({x_expr}) AS DOUBLE) AS b_hi
            FROM {t}),
        pts AS (
            SELECT CAST({x_expr} AS DOUBLE) AS x FROM {t}
            WHERE {x_expr} IS NOT NULL),
        counts AS (
            SELECT CASE WHEN b_hi = b_lo THEN 0
                   ELSE LEAST({bins - 1},
                        CAST(FLOOR((x - b_lo) * CAST({bins} AS DOUBLE)
                                   / (b_hi - b_lo)) AS INT)) END AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM pts, bounds
            WHERE x >= b_lo AND x <= b_hi
            GROUP BY 1),
        scaffold AS (
            SELECT u.b AS bin,
                   b_lo + u.b * (b_hi - b_lo) / CAST({bins} AS DOUBLE)
                       AS lo,
                   b_lo + (u.b + 1) * (b_hi - b_lo)
                       / CAST({bins} AS DOUBLE) AS hi
            FROM bounds, unnest(range(0, {bins})) AS u(b))
        SELECT CAST(s.bin AS INT) AS bin, s.lo, s.hi,
               COALESCE(c.n, 0) AS n
        FROM scaffold s LEFT JOIN counts c ON s.bin = c.bin
    """


_PII_SCAN = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b",
}


def pii_scan(df: SparkDF, cols: list[str] | None = None) -> SparkDF:
    """Governance profile: for each string column, how many rows
    contain each PII shape (same RE2-compatible pattern set
    ``text.redact_pii`` scrubs) and total occurrence counts —
    ``(column, n_rows, email_rows, ipv4_rows, phone_rows,
    email_hits, ipv4_hits, phone_hits)``. Tells you WHERE to point
    the redaction pass (and verifies it worked: re-scan after
    ``redact_pii`` must report zero).

    ONE job, one scan: every (column x pattern) statistic is an
    aggregate of scan-local ``rlike``/``regexp_count`` expressions in
    a single ``agg``; the long format is an inline explode of the
    1-row result. No shuffle beyond the global partial-agg pair."""
    if cols is None:
        cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)]
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(F.lit(1)).alias(f"__n_{c}"))
        for name, pat in _PII_SCAN.items():
            aggs.append(F.sum(col.rlike(pat).cast("bigint"))
                         .alias(f"__r_{name}_{c}"))
            aggs.append(F.sum(F.coalesce(
                            F.regexp_count(col, F.lit(pat)), F.lit(0))
                              .cast("bigint"))
                         .alias(f"__h_{name}_{c}"))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__n_{c}").alias("n_rows"),
                 *[F.coalesce(F.col(f"__r_{n}_{c}"), F.lit(0))
                    .alias(f"{n}_rows") for n in _PII_SCAN],
                 *[F.coalesce(F.col(f"__h_{n}_{c}"), F.lit(0))
                    .alias(f"{n}_hits") for n in _PII_SCAN])
        for c in cols])
    return one.select(F.explode(rows).alias("p")).select("p.*")


def pii_scan_sql(t: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`pii_scan` (identical RE2 patterns)."""
    parts = []
    for c in cols:
        sel = [f"'{c}' AS column", "CAST(count(*) AS BIGINT) AS n_rows"]
        for n, pat in _PII_SCAN.items():
            p = pat.replace("'", "''")
            sel.append(
                f"CAST(COALESCE(sum(CASE WHEN regexp_matches({c}, "
                f"'{p}') THEN 1 ELSE 0 END), 0) AS BIGINT) AS {n}_rows")
            sel.append(
                f"CAST(COALESCE(sum(length(regexp_extract_all({c}, "
                f"'{p}'))), 0) AS BIGINT) AS {n}_hits")
        parts.append(f"SELECT {', '.join(sel)} FROM {t}")
    return " UNION ALL ".join(parts)


def join_blowup_profile(left: SparkDF, right: SparkDF,
                        left_key: str, right_key: str,
                        top: int = 20) -> SparkDF:
    """Pre-join safety check: the exact output cardinality an inner
    equi-join WOULD produce, per hot key — catches the accidental
    many-to-many blowup (duplicate keys on both sides) before the
    join's shuffle materializes it. Returns the ``top`` keys by pair count
    ``(key, n_left, n_right, pairs, rank)`` plus a ``__total__`` row
    (key NULL, rank 0) carrying the full join size.

    Cost: one partial-aggregated groupBy per side + a join of the two
    COUNT tables (vocabulary-sized, not row-sized) — strictly cheaper
    than the join it profiles, and safe to run unconditionally in a
    pipeline's preflight."""
    from pyspark.sql import Window

    lc = left.groupBy(F.col(left_key).cast("string").alias("key")) \
             .agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(F.col(right_key).cast("string").alias("key")) \
              .agg(F.count(F.lit(1)).alias("n_right"))
    pairs = (lc.join(rc, "key")
               .select("key", "n_left", "n_right",
                       (F.col("n_left") * F.col("n_right"))
                        .alias("pairs")))
    # orderBy().limit() — per-partition top-k before the merge — not a
    # global row_number window, which would sort ALL pairs in one task;
    # rank is assigned on the <= ``top`` survivors (trivial window)
    w = Window.orderBy(F.col("pairs").desc(), F.col("key").asc())
    topk = (pairs.orderBy(F.col("pairs").desc(), F.col("key").asc())
                 .limit(top)
                 .withColumn("rank",
                             F.row_number().over(w).cast("int")))
    total = pairs.agg(
        F.lit(None).cast("string").alias("key"),
        F.sum("n_left").alias("n_left"),
        F.sum("n_right").alias("n_right"),
        F.sum("pairs").alias("pairs"),
        F.lit(0).cast("int").alias("rank"))
    return topk.unionByName(total)


def join_blowup_profile_sql(lt: str, rt: str, lk: str, rk: str,
                            top: int = 20) -> str:
    """DuckDB twin of :func:`join_blowup_profile`."""
    return f"""
        WITH lc AS (SELECT CAST({lk} AS VARCHAR) AS key,
                           CAST(count(*) AS BIGINT) AS n_left
                    FROM {lt} GROUP BY 1),
        rc AS (SELECT CAST({rk} AS VARCHAR) AS key,
                      CAST(count(*) AS BIGINT) AS n_right
               FROM {rt} GROUP BY 1),
        p AS (SELECT lc.key, n_left, n_right,
                     n_left * n_right AS pairs
              FROM lc JOIN rc USING (key)),
        tk AS (SELECT key, n_left, n_right, pairs,
                      CAST(row_number() OVER (
                          ORDER BY pairs DESC, key ASC) AS INT) AS rank
               FROM p QUALIFY rank <= {top})
        SELECT * FROM tk
        UNION ALL
        SELECT CAST(NULL AS VARCHAR), CAST(sum(n_left) AS BIGINT),
               CAST(sum(n_right) AS BIGINT),
               CAST(sum(pairs) AS BIGINT), 0 FROM p
    """


def histogram_equidepth(df: SparkDF, col: str, buckets: int) -> SparkDF:
    """Exact equi-depth histogram ``(bucket, lo, hi, n)``: boundaries
    are the interpolated ``i/buckets`` percentiles (Spark's exact
    sort-based ``percentile`` aggregate — matches DuckDB
    ``quantile_cont``), bucket assignment counts boundaries strictly
    below each value (an integer fold over the broadcast boundary
    array — scan-local), and per-bucket counts come from one
    partial-aggregated groupBy. Bucket edges are floor-rounded to 1e-4
    for cross-engine float parity; counts are exact.

    The exact percentile is the oracle anchor; for large inputs swap
    the boundary pass for ``sketches.approx_quantiles`` (same downstream
    plan, error-bounded boundaries)."""
    ps = [i / buckets for i in range(1, buckets)]
    c = F.col(col).cast("double")
    bnds = df.where(c.isNotNull()).agg(
        F.percentile(c, F.array(*[F.lit(p) for p in ps])).alias("bs"),
        F.min(c).alias("blo"), F.max(c).alias("bhi"))
    x = F.col("__x")
    bucket = F.aggregate(
        F.col("bs"), F.lit(0),
        lambda acc, b: acc + (x > b).cast("int"))
    assigned = (df.select(c.alias("__x")).where(x.isNotNull())
                  .crossJoin(F.broadcast(bnds))
                  .select(bucket.alias("bucket"), "bs", "blo", "bhi"))
    lo = F.when(F.col("bucket") == 0, F.col("blo")) \
          .otherwise(F.element_at("bs", F.col("bucket")))
    hi = F.when(F.col("bucket") == buckets - 1, F.col("bhi")) \
          .otherwise(F.element_at("bs", F.col("bucket") + 1))
    return (assigned
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.floor(F.first(lo) * 10000) / 10000).alias("lo"),
                 (F.floor(F.first(hi) * 10000) / 10000).alias("hi"))
            .select(F.col("bucket").cast("int").alias("bucket"),
                    "lo", "hi", "n"))


def histogram_equidepth_approx(df: SparkDF, col: str, buckets: int,
                               accuracy: int = 10000) -> SparkDF:
    """The one-pass equi-depth path, CORRECTNESS-GATED: boundaries come
    from one-pass ``percentile_approx`` (rank error ``eps =
    1/accuracy``) instead of the exact sort-based percentile, the
    downstream plan (broadcast boundary fold -> partial-aggregated
    bucket counts) is IDENTICAL to :func:`histogram_equidepth`, and
    each bucket row carries an ``ok`` boolean proving its count
    honors the sketch's guarantee.

    Bound derivation (GK rank guarantee + ties): boundary ``b_i``
    (target rank ``i*n/B``) satisfies ``count(x <= b_i) in
    [i*n/B - eps*n, i*n/B + eps*n + T]`` where ``T`` is the max
    multiplicity of any single value (a boundary "absorbs" its
    ties). Bucket ``i``'s count is a difference of two such ranks,
    so ``|count_i - n/B| <= 2*eps*n + T`` (+1 discrete slack). ``T``
    is computed exactly in the same pass tree (max of a value-count
    aggregate).

    Output: ``(bucket, n_total, ok)`` — counts are data-dependent
    on the sketch, so the hash-checkable contract is ``(bucket,
    n_total, ok=true)``; a DuckDB oracle asserts exactly that
    expected table. An out-of-bound sketch shows up as ``ok=false``
    (value mismatch) or a missing bucket row (row-count mismatch).

    Contract limit: a single value carrying >= ``n/buckets`` of the
    mass makes equi-depth division impossible (adjacent boundaries
    collapse onto the tie and a bucket goes legitimately EMPTY —
    missing row). That is a property of the data, not the sketch;
    exact boundaries hit it identically."""
    ps = [i / buckets for i in range(1, buckets)]
    c = F.col(col).cast("double")
    base = df.where(c.isNotNull()).select(c.alias("__x"))
    bnds = base.agg(
        F.percentile_approx("__x",
                            F.array(*[F.lit(p) for p in ps]),
                            F.lit(accuracy)).alias("bs"),
        F.count(F.lit(1)).alias("n_total"))
    ties = base.groupBy("__x").agg(F.count(F.lit(1)).alias("__m")) \
               .agg(F.max("__m").alias("t_max"))
    x = F.col("__x")
    bucket = F.aggregate(
        F.col("bs"), F.lit(0),
        lambda acc, b: acc + (x > b).cast("int"))
    assigned = (base.crossJoin(F.broadcast(bnds))
                    .crossJoin(F.broadcast(ties))
                    .select(bucket.alias("bucket"), "n_total", "t_max"))
    counts = (assigned.groupBy("bucket")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.first("n_total").alias("n_total"),
                           F.first("t_max").alias("t_max")))
    slack = (2.0 * F.col("n_total") / accuracy) + F.col("t_max") + 1
    ok = (F.abs(F.col("n") - F.col("n_total") / buckets) <= slack)
    return counts.select(F.col("bucket").cast("int").alias("bucket"),
                         "n_total", ok.alias("ok"))


def histogram_equidepth_sql(t: str, x_expr: str, buckets: int) -> str:
    """DuckDB twin of :func:`histogram_equidepth`."""
    ps = ", ".join(str(i / buckets) for i in range(1, buckets))
    return f"""
        WITH pts AS (
            SELECT CAST({x_expr} AS DOUBLE) AS x FROM {t}
            WHERE {x_expr} IS NOT NULL),
        b AS (
            SELECT quantile_cont(x, [{ps}]) AS bs,
                   min(x) AS blo, max(x) AS bhi
            FROM pts),
        assigned AS (
            SELECT CAST(length(list_filter(b.bs, v -> pts.x > v))
                        AS INT) AS bucket, b.bs, b.blo, b.bhi
            FROM pts, b)
        SELECT bucket,
               FLOOR(CASE WHEN bucket = 0 THEN ANY_VALUE(blo)
                     ELSE ANY_VALUE(bs)[bucket] END * 10000) / 10000
                   AS lo,
               FLOOR(CASE WHEN bucket = {buckets - 1}
                     THEN ANY_VALUE(bhi)
                     ELSE ANY_VALUE(bs)[bucket + 1] END * 10000)
                   / 10000 AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM assigned GROUP BY bucket
    """


# ---------------------------------------------------------------------------
# per-group quantile profile (the p50/p95/p99 observability staple)
# ---------------------------------------------------------------------------

def group_quantiles(df: SparkDF, col: str, by: list[str],
                    ps: tuple[float, ...] = (0.5, 0.9, 0.99)) -> SparkDF:
    """Per-group exact quantiles — the p50/p90/p99 readout every
    latency/value dashboard is built on: ``(by..., n, q_<bp>...)``
    with one wide column per requested quantile (named by basis
    points: ``q_5000`` = p50). ``col`` accepts a plain column name OR
    an SQL expression string (e.g. ``'CAST(FLOOR(v*100) AS BIGINT)'``
    — the shape :func:`group_quantiles_sql` mirrors; ADVICE r13: the
    one-buffer rewrite had silently narrowed this to bare names; a
    string that exactly matches a column in ``df.columns`` is treated
    as a NAME even if it isn't a valid SQL identifier — ADVICE r14)
    and
    should be integer units (cents/micros) so interpolated values are
    cross-engine-exact rationals; outputs floor to 1e-4
    (mad_outliers doctrine).

    ONE grouped sort-based percentile aggregation — the data
    shuffles once on ``by``. The approximate path swaps
    ``percentile_approx`` into the same shape (gated like
    ``corpus_percentiles_approx``)."""
    # one percentile BUFFER for all ps (array percentage form) — per-p
    # aggregates each buffer + sort the group's values independently.
    # String routing (ADVICE r14): an exact df.columns match is a
    # bare NAME (F.col — so non-identifier names like 'a-b' keep
    # their pre-r13 pass-through semantics instead of parsing as
    # subtraction); anything else is an SQL expression (F.expr).
    if isinstance(col, str):
        xcol = F.col(col) if col in df.columns else F.expr(col)
    else:
        xcol = col
    base = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(xcol,
                     F.array(*[F.lit(p) for p in ps])).alias("__gq"))
    return base.select(
        *by, "n",
        *[(F.floor(F.element_at("__gq", i + 1) * 10000) / 10000)
          .alias(f"q_{int(p * 10000)}") for i, p in enumerate(ps)])


def group_quantiles_sql(t: str, x_expr: str, by: list[str],
                        ps: tuple[float, ...] = (0.5, 0.9, 0.99)) -> str:
    """DuckDB twin of :func:`group_quantiles` (``quantile_cont`` is
    the same linear-interpolated exact percentile)."""
    bys = ", ".join(by)
    cols = ", ".join(
        f"FLOOR(quantile_cont(x, {p}) * 10000) / 10000"
        f" AS q_{int(p * 10000)}" for p in ps)
    return f"""
        WITH base AS (SELECT {bys}, {x_expr} AS x FROM {t})
        SELECT {bys}, CAST(count(*) AS BIGINT) AS n, {cols}
        FROM base GROUP BY {bys}
    """


# ---------------------------------------------------------------------------
# robust (median/MAD) outlier profiling
# ---------------------------------------------------------------------------

def mad_outliers(df: SparkDF, col: str, by: list[str],
                 k: float = 3.0) -> SparkDF:
    """Robust per-group outlier profile: exact median, median absolute
    deviation, and the count of rows with ``|x - median| > k·MAD`` —
    the standard heavy-tail-safe alternative to mean/stddev z-scores
    (one huge outlier corrupts a z-score threshold; it barely moves a
    median). ``col`` should be integer units (cents/micros): medians
    then interpolate only to exact .5 halves, so the doubles are
    bit-identical across engines.

    Plan: two grouped exact-percentile aggregations with a broadcast
    join between them (group cardinality rows, not data rows) and one
    final grouped count — the data shuffles on ``by`` once per
    percentile pass. Exact medians are the verification-grade path;
    the approximate path swaps in ``percentile_approx`` with
    the same shape (see ``approx_quantiles_check`` for how the bound
    is then gated).
    """
    med = (df.groupBy(*by)
             .agg(F.expr(f"percentile({col}, 0.5)").alias("med")))
    dev = (df.join(F.broadcast(med), by)
             .withColumn("__dev", F.abs(F.col(col) - F.col("med"))))
    mad = (dev.groupBy(*by)
              .agg(F.expr("percentile(__dev, 0.5)").alias("mad"),
                   F.first("med").alias("med")))
    out = (dev.select(*by, "__dev")
              .join(F.broadcast(mad.select(*by, "mad")), by)
              .groupBy(*by)
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(F.col("__dev") > F.lit(k) * F.col("mad"),
                                1).otherwise(0))
                    .cast("long").alias("n_outliers")))
    return (out.join(F.broadcast(mad), by)
               .select(*by, "n", "med", "mad", "n_outliers"))


def mad_outliers_sql(t: str, x_expr: str, by: list[str],
                     k: float = 3.0) -> str:
    """DuckDB twin of :func:`mad_outliers` (``quantile_cont`` is the
    same linear-interpolated exact percentile)."""
    bys = ", ".join(by)
    return f"""
        WITH base AS (SELECT {bys}, {x_expr} AS x FROM {t}),
        med AS (
            SELECT {bys}, quantile_cont(x, 0.5) AS med
            FROM base GROUP BY {bys}),
        dev AS (
            SELECT b.*, abs(b.x - m.med) AS d, m.med
            FROM base b JOIN med m USING ({bys})),
        mad AS (
            SELECT {bys}, quantile_cont(d, 0.5) AS mad,
                   first(med) AS med
            FROM dev GROUP BY {bys})
        SELECT {bys}, CAST(count(*) AS BIGINT) AS n,
               first(m.med) AS med, first(m.mad) AS mad,
               CAST(sum(CASE WHEN d.d > {k} * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING ({bys})
        GROUP BY {bys}
    """


# ---------------------------------------------------------------------------
# group-wise imputation
# ---------------------------------------------------------------------------

def impute(df: SparkDF, col: str, by: list[str],
           strategy: str = "median",
           out_col: str | None = None) -> SparkDF:
    """Fill NULLs in ``col`` with a per-group statistic:

    - ``"median"`` — exact group median of the non-null values
      (integer-unit columns interpolate only to .5 halves);
    - ``"mode"`` — the group's most frequent non-null value, ties to
      the smallest (deterministic);
    - ``"mean_micro"`` — integer micro-mean ``(1e6·sum) div count``
      (exact cross-engine; for integer columns).

    Plan: one grouped aggregation to a group-cardinality statistics
    table, broadcast back onto the data — the scan never shuffles.
    A group whose values are ALL null keeps its nulls (no global
    fallback — that is a policy decision, not a default).
    """
    if strategy not in ("median", "mode", "mean_micro"):
        raise ValueError(f"unknown strategy {strategy!r}")
    out_col = out_col or col
    if strategy == "mode":
        counts = (df.where(F.col(col).isNotNull())
                    .groupBy(*by, col)
                    .agg(F.count(F.lit(1)).alias("__n")))
        from pyspark.sql import Window
        w = Window.partitionBy(*by).orderBy(
            F.col("__n").desc(), F.col(col).asc())
        fill = (counts.withColumn("__rn", F.row_number().over(w))
                      .where(F.col("__rn") == 1)
                      .select(*by, F.col(col).alias("__fill")))
    elif strategy == "mean_micro":
        fill = (df.where(F.col(col).isNotNull())
                  .groupBy(*by)
                  .agg(F.expr(f"(1000000 * sum({col})) div count({col})")
                        .alias("__fill")))
    else:
        fill = (df.groupBy(*by)
                  .agg(F.expr(f"percentile({col}, 0.5)")
                        .alias("__fill")))
    joined = df.join(F.broadcast(fill), by, "left")
    filled = F.coalesce(F.col(col).cast("double")
                        if strategy == "median"
                        else F.col(col), F.col("__fill"))
    return joined.withColumn(out_col, filled).drop("__fill")


def impute_sql(t: str, col: str, by: list[str],
               strategy: str = "median", out_col: str | None = None,
               select_cols: list[str] | None = None) -> str:
    """DuckDB twin of :func:`impute`."""
    bys = ", ".join(by)
    out_col = out_col or col
    cols = ", ".join(select_cols or [f"b.{c}" for c in [*by, col]])
    if strategy == "mode":
        fill = f"""
            SELECT {bys}, {col} AS __fill FROM (
                SELECT {bys}, {col}, row_number() OVER (
                    PARTITION BY {bys}
                    ORDER BY count(*) DESC, {col} ASC) AS rn
                FROM {t} WHERE {col} IS NOT NULL
                GROUP BY {bys}, {col}) WHERE rn = 1"""
        expr = f"coalesce(b.{col}, f.__fill)"
    elif strategy == "mean_micro":
        # CAST: sum() widens to HUGEINT -> fetchdf float64; __fill
        # reaches the final coalesce output (r10 oracle-CAST doctrine)
        fill = (f"SELECT {bys}, CAST((1000000 * sum({col}))"
                f" // count({col}) AS BIGINT)"
                f" AS __fill FROM {t} WHERE {col} IS NOT NULL"
                f" GROUP BY {bys}")
        expr = f"coalesce(b.{col}, f.__fill)"
    else:
        fill = (f"SELECT {bys}, quantile_cont({col}, 0.5) AS __fill "
                f"FROM {t} GROUP BY {bys}")
        expr = f"coalesce(CAST(b.{col} AS DOUBLE), f.__fill)"
    return f"""
        WITH fills AS ({fill})
        SELECT {cols}, {expr} AS {out_col}
        FROM {t} b LEFT JOIN fills f USING ({bys})
    """


# ---------------------------------------------------------------------------
# corpus concentration audit (Gini + top-decile share per group)
# ---------------------------------------------------------------------------

def concentration_profile(df: SparkDF, size_col: str, id_col: str,
                          by: list[str],
                          top_frac: float = 0.1) -> SparkDF:
    """Per-group size-concentration audit: how dominated is each
    source by its few largest documents? Emits one row per group —
    ``n_docs``, ``total_size``, the exact GINI COEFFICIENT of the
    size distribution and the share of total size held by the top
    ``ceil(top_frac*n)`` largest members, both in floored micro-units.
    The curation question behind it: a "diverse" domain whose token
    mass is 90% three giant documents needs a cap or a split before
    it enters a training mixture.

    Gini from the rank formulation over ASC-sorted sizes
    (Lorenz-curve identity):

        G = (2*sum(r_i * x_i) - (n+1)*sum(x_i)) / (n * sum(x_i))

    with ``r_i`` the 1-based rank. Every term is an exact
    DECIMAL(38,0)/HUGEINT integer (``size_col`` must be non-negative
    integers); only the final quotient is a double, floored to
    micro-units — bit-identical across engines. Equal sizes commute
    under any rank order (equal x at swapped ranks contribute the
    same sum), so the (size, id) tie-break matters only for the
    top-share cut, where it makes the answer total. An all-zero
    group has no Lorenz curve: NULL, not 0.

    Plan: ONE hash exchange on ``by`` (rank + count windows share the
    partitioning), then a grouped conditional-sum aggregate to a
    group-cardinality table. No joins, no second pass over the data.
    """
    if not 0.0 < top_frac <= 1.0:
        raise ValueError("top_frac must be in (0, 1]")
    from pyspark.sql import Window

    _D38 = "decimal(38,0)"
    x = F.col(size_col).cast(_D38)
    wr = (Window.partitionBy(*by)
          .orderBy(F.col(size_col).asc(), F.col(id_col).asc()))
    wn = Window.partitionBy(*by)
    ranked = (df.withColumn("__cps_r", F.row_number().over(wr)
                            .cast(_D38))
                .withColumn("__cps_n", F.count(F.lit(1)).over(wn)))
    top_cut = (F.col("__cps_n")
               - F.ceil(F.lit(top_frac) * F.col("__cps_n")))
    agg = ranked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(x).alias("__t"),
        F.sum(F.col("__cps_r") * x).alias("__rx"),
        F.sum(F.when(F.col("__cps_r") > top_cut, x)
               .otherwise(F.lit(0).cast(_D38))).alias("__topx"))
    n = F.col("n_docs").cast(_D38)
    t, rx, topx = F.col("__t"), F.col("__rx"), F.col("__topx")
    denom = (n * t).cast("double")
    gini = F.when(t > 0, F.floor(
        F.lit(1_000_000.0)
        * (F.lit(2).cast(_D38) * rx - (n + 1) * t).cast("double")
        / denom))
    share = F.when(t > 0, F.floor(
        F.lit(1_000_000.0) * topx.cast("double") / t.cast("double")))
    return agg.select(
        *by, "n_docs", t.cast("long").alias("total_size"),
        gini.cast("long").alias("gini_micro"),
        share.cast("long").alias("top_share_micro"))


def concentration_profile_sql(t: str, size_expr: str, id_expr: str,
                              by: list[str],
                              top_frac: float = 0.1) -> str:
    """DuckDB twin of :func:`concentration_profile` (HUGEINT sums,
    identical rank formulation and final double floors)."""
    bys = ", ".join(by)
    return f"""
        WITH ranked AS (
            SELECT {bys}, CAST({size_expr} AS HUGEINT) AS x,
                   CAST(row_number() OVER (
                       PARTITION BY {bys}
                       ORDER BY {size_expr} ASC, {id_expr} ASC)
                       AS HUGEINT) AS r,
                   count(*) OVER (PARTITION BY {bys}) AS n
            FROM {t}),
        agg AS (
            SELECT {bys},
                   CAST(count(*) AS BIGINT) AS n_docs,
                   sum(x) AS tt,
                   sum(r * x) AS rx,
                   sum(CASE WHEN r > n - CAST(ceil({top_frac} * n)
                                            AS BIGINT)
                            THEN x ELSE 0::HUGEINT END) AS topx
            FROM ranked GROUP BY {bys})
        SELECT {bys}, n_docs, CAST(tt AS BIGINT) AS total_size,
               CASE WHEN tt > 0 THEN
                   CAST(floor(1000000.0
                        * CAST(2::HUGEINT * rx
                               - (n_docs::HUGEINT + 1) * tt AS DOUBLE)
                        / CAST(n_docs::HUGEINT * tt AS DOUBLE))
                        AS BIGINT) END AS gini_micro,
               CASE WHEN tt > 0 THEN
                   CAST(floor(1000000.0 * CAST(topx AS DOUBLE)
                              / CAST(tt AS DOUBLE)) AS BIGINT)
               END AS top_share_micro
        FROM agg
    """


# ---------------------------------------------------------------------------
# weighted quantiles (token-weighted corpus statistics)
# ---------------------------------------------------------------------------

def weighted_quantiles(df: SparkDF, x_col: str, w_col: str,
                       by: list[str],
                       ps: tuple[float, ...] = (0.5, 0.9, 0.99),
                       micro: int = 1_000_000) -> SparkDF:
    """Per-group WEIGHTED lower quantiles: the smallest ``x`` whose
    cumulative weight reaches ``p`` of the group's total weight
    (type-1 / inclusive-CDF definition — no interpolation, so the
    result is an ACTUAL data value and the whole operator is exact
    int64, hash-checkable cross-engine).

    This is the corpus-statistics workhorse the unweighted quantile
    cannot express: "the document length at the 50th percentile of
    TOKENS" weights every document by its token count, so a few huge
    documents move the answer the way they move the training mix —
    the denominator a token-budget decision actually divides by.

    Returns ``(by..., n, total_w, wq_<p*micro> ...)``. Rows with null
    or non-positive weight are dropped (they carry no mass); null
    ``x`` is dropped with them.

    Exactness contract: the threshold compare is
    ``cum * micro >= p_micro * total`` on int64 — exact while
    ``total_w * micro < 2^63`` (total weight below ~9.2e12 at the
    default micro). DETERMINISM under ties: the cumulative sum's
    order among equal ``x`` is arbitrary, but the emitted value is
    the x of the first RUN whose end-of-run cumulative crosses the
    threshold — run totals don't depend on intra-run order, so the
    output is stable on any partitioning and any engine.

    Plan shape: ONE hash exchange on ``by`` feeds both window passes
    (cumulative and total), then the per-p thresholds collapse in the
    same grouped aggregation — no second shuffle, no sort beyond the
    per-group window sort. The cost is a per-group sort; for
    heavy groups swap in the GK-sketch path (sketches.py) the same
    way corpus_percentiles documents."""
    from pyspark.sql import Window

    gw = Window.partitionBy(*by)
    ow = (gw.orderBy(F.col("__wq_x").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # Filter on the POST-cast columns (ADVICE r13): filtering on the
    # pre-projection names only resolved via Spark's missing-attribute
    # rule, and a non-castable x (e.g. a string column) would produce
    # __wq_x=NULL rows that survive a pre-cast null check, carry
    # weight into total_w, and sort first in the window — skewing
    # every emitted quantile while DuckDB's CAST errors instead.
    # Post-cast filtering drops cast-failures with the nulls.
    base = (df.select(*by,
                      F.col(x_col).cast("long").alias("__wq_x"),
                      F.col(w_col).cast("long").alias("__wq_w"))
              .where(F.col("__wq_x").isNotNull()
                     & F.col("__wq_w").isNotNull()
                     & (F.col("__wq_w") > 0)))
    cum = (base.withColumn("__wq_cum", F.sum("__wq_w").over(ow))
               .withColumn("__wq_tot", F.sum("__wq_w").over(gw)))
    aggs = [F.count(F.lit(1)).cast("long").alias("n"),
            F.max("__wq_tot").alias("total_w")]
    for p in ps:
        pn = int(round(p * micro))
        aggs.append(
            F.min(F.when(F.col("__wq_cum") * micro
                         >= F.lit(pn) * F.col("__wq_tot"),
                         F.col("__wq_x"))).alias(f"wq_{pn}"))
    return cum.groupBy(*by).agg(*aggs)


def weighted_quantiles_sql(t: str, x_expr: str, w_expr: str,
                           by: list[str],
                           ps: tuple[float, ...] = (0.5, 0.9, 0.99),
                           micro: int = 1_000_000) -> str:
    """DuckDB twin of :func:`weighted_quantiles` — the identical
    window cumulative + int64 threshold compare."""
    bys = ", ".join(by)
    cols = ", ".join(
        f"MIN(CASE WHEN __cum * {micro} >= "
        f"{int(round(p * micro))} * __tot THEN __x END)"
        f" AS wq_{int(round(p * micro))}" for p in ps)
    return f"""
        WITH wq_base AS (
            SELECT {bys}, CAST({x_expr} AS BIGINT) AS __x,
                   CAST({w_expr} AS BIGINT) AS __w
            FROM {t}
            WHERE ({x_expr}) IS NOT NULL AND ({w_expr}) IS NOT NULL
                  AND ({w_expr}) > 0),
        wq_cum AS (
            SELECT {bys}, __x, __w,
                   SUM(__w) OVER (PARTITION BY {bys} ORDER BY __x ASC
                                  ROWS UNBOUNDED PRECEDING) AS __cum,
                   SUM(__w) OVER (PARTITION BY {bys}) AS __tot
            FROM wq_base)
        SELECT {bys}, CAST(count(*) AS BIGINT) AS n,
               CAST(MAX(__tot) AS BIGINT) AS total_w, {cols}
        FROM wq_cum GROUP BY {bys}
    """
