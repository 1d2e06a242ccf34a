"""Scalar (int8) embedding quantization — the storage/serving
compression step of an embedding pipeline: per-dimension global
[min, max] ranges, each float mapped to an 8-bit code. 4x smaller
vectors for ANN candidate generation with exact-rescoring on the
original floats (the standard two-stage serving layout).

Determinism contract: the code assignment is a FIXED-ORDER IEEE double
expression ``least(255, greatest(0, floor((x - lo) * 255 / (hi -
lo))))`` over stats that are exact min/maxes — bit-identical across
engines and partitionings, so even the quantized codes are
hash-checkable cross-engine (constant dimensions code to 0 instead of
dividing by zero).

Scale shape: stats are ONE posexplode + one partial-aggregated
groupBy(dim) (the stream collapses to |dims| rows map-side); the
per-dimension ranges then ride the plan as a broadcast 1-row pair of
sorted arrays, and the coding itself is SCAN-LOCAL — an index
transform over each vector, no second shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF, functions as F

from ..session import tiny_df

from .dedup import spread

__all__ = ["quantize_embeddings", "quantize_embeddings_sql",
           "quantized_dot_topk", "quantized_dot_topk_sql",
           "quantized_centered_sql",
           "pq_train_encode", "pq_adc_topk", "pq_topk_oracle_sql"]


def quantize_embeddings(df: SparkDF, vec_col: str, id_col: str,
                        levels: int = 256,
                        centered: bool = False) -> SparkDF:
    """``(id, codes array<int>)`` with per-dimension global scalar
    quantization into ``levels`` buckets (default int8). Vectors
    shorter than the longest one code their own dims only; null
    vectors yield null codes.

    Two layouts: the default AFFINE form maps ``[min_d, max_d]`` onto
    ``[0, levels-1]`` (tightest reconstruction — the storage layout);
    ``centered=True`` maps symmetrically around zero,
    ``floor(x * half / max|x|_d)`` clamped to ``[-half, half]`` — the
    RETRIEVAL layout, because the integer dot of centered codes is a
    per-dim positively-weighted float dot (monotone-compatible),
    whereas affine codes' dot is dominated by the shift constants and
    does NOT rank like the float dot."""
    top = levels - 1
    half = levels // 2 - 1
    ex = (spread(df.select(F.col(id_col).alias("id"),
                           F.col(vec_col).alias("v")))
          .select("id", F.posexplode("v").alias("d", "x"))
          .select("id", "d", F.col("x").cast("double").alias("x")))
    if centered:
        stats = (ex.groupBy("d")
                   .agg(F.max(F.abs(F.col("x"))).alias("m")))
        bounds = stats.agg(
            F.array_sort(F.collect_list(F.struct("d", "m")))
             .alias("b"))
    else:
        stats = (ex.groupBy("d")
                   .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
        bounds = stats.agg(
            F.array_sort(F.collect_list(F.struct("d", "lo", "hi")))
             .alias("b"))
    v = F.col("v")
    b = F.col("b")
    if centered:
        code = F.transform(
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda i: F.when(b[i]["m"] == 0.0, F.lit(0)).otherwise(
                F.least(F.lit(half), F.greatest(F.lit(-half), F.floor(
                    v[i].cast("double") * F.lit(float(half))
                    / b[i]["m"]))))
             .cast("int"))
    else:
        code = F.transform(
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda i: F.when(
                b[i]["hi"] == b[i]["lo"], F.lit(0)).otherwise(
                F.least(F.lit(top), F.greatest(F.lit(0), F.floor(
                    (v[i].cast("double") - b[i]["lo"]) * F.lit(float(top))
                    / (b[i]["hi"] - b[i]["lo"])))))
             .cast("int"))
    return (df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).alias("v"))
              .crossJoin(F.broadcast(bounds))
              .select("id", code.alias("codes")))


def quantize_embeddings_sql(t: str, id_expr: str, vec_expr: str,
                            levels: int = 256) -> str:
    """DuckDB twin in LONG format ``(id, d, code)`` (how the
    registered query exposes it — array-valued result columns don't
    hash-compare portably). Positional indexing via list_transform
    over a range, identical double-op order."""
    top = levels - 1
    return f"""
        WITH ex AS (
            SELECT {id_expr} AS {id_expr}, u.d AS d,
                   CAST({vec_expr}[CAST(u.d + 1 AS INT)] AS DOUBLE) AS x
            FROM {t},
                 (SELECT unnest(range(0,
                      (SELECT max(len({vec_expr})) FROM {t}))) AS d) u
            WHERE u.d < len({vec_expr})),
        stats AS (
            SELECT d, min(x) AS lo, max(x) AS hi FROM ex GROUP BY d)
        SELECT ex.{id_expr}, CAST(ex.d AS INT) AS d,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE CAST(LEAST({top}, GREATEST(0,
                         FLOOR((ex.x - s.lo) * CAST({top} AS DOUBLE)
                               / (s.hi - s.lo)))) AS INT) END AS code
        FROM ex JOIN stats s USING (d)
    """


def quantized_dot_topk(codes: SparkDF, queries: SparkDF, k: int = 10
                       ) -> SparkDF:
    """Stage-1 retrieval over QUANTIZED codes: for each query row of
    ``queries`` (same ``(id, codes)`` schema), the top-``k`` corpus
    rows by integer dot product of the int8 codes. The int64 fold is
    EXACT, so unlike float-dot ANN the candidate ranking itself is
    hash-checkable cross-engine; ties break on ascending corpus id,
    self-pairs excluded. Serving layouts run this over the 4x-smaller
    code table, then rescore the k survivors on the original floats.

    Use CENTERED codes (``quantize_embeddings(centered=True)``):
    affine [0, levels) codes' dot is dominated by the shift constants
    and does not rank like the float dot.

    Shape: bounded query set x corpus linear scan (a broadcast
    nested-loop on the tiny query side) + per-query top-k window —
    the brute-force stage-1 baseline; bucketed variants
    (`similarity.ann_lsh_topk`, `ivf`) bound the scan instead."""
    q = queries.select(F.col("id").alias("q_id"),
                       F.col("codes").alias("qc"))
    c = codes.select(F.col("id").alias("item_id"),
                     F.col("codes").alias("cc"))
    dot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"),
                   lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(),
                                           F.col("item_id").asc())
    return (q.crossJoin(c)
             .where(F.col("q_id") != F.col("item_id"))
             .select("q_id", "item_id", dot.alias("dot"))
             .withColumn("rank", F.row_number().over(w).cast("int"))
             .where(F.col("rank") <= k))


def quantized_centered_sql(t: str, id_expr: str, vec_expr: str,
                           levels: int = 256) -> str:
    """DuckDB twin of ``quantize_embeddings(..., centered=True)`` in
    long format ``(id, d, code)``."""
    half = levels // 2 - 1
    return f"""
        WITH ex AS (
            SELECT {id_expr} AS {id_expr}, u.d AS d,
                   CAST({vec_expr}[CAST(u.d + 1 AS INT)] AS DOUBLE) AS x
            FROM {t},
                 (SELECT unnest(range(0,
                      (SELECT max(len({vec_expr})) FROM {t}))) AS d) u
            WHERE u.d < len({vec_expr})),
        stats AS (
            SELECT d, max(abs(x)) AS m FROM ex GROUP BY d)
        SELECT ex.{id_expr}, CAST(ex.d AS INT) AS d,
               CASE WHEN s.m = 0 THEN 0
                    ELSE CAST(LEAST({half}, GREATEST(-{half},
                         FLOOR(ex.x * CAST({half} AS DOUBLE) / s.m)))
                         AS INT) END AS code
        FROM ex JOIN stats s USING (d)
    """


def quantized_dot_topk_sql(t: str, id_expr: str, vec_expr: str,
                           query_pred: str, k: int = 10,
                           levels: int = 256) -> str:
    """DuckDB twin: CENTERED quantization (the retrieval layout —
    same fixed-order arithmetic), then integer list dot + window
    top-k."""
    inner = quantized_centered_sql(t, id_expr, vec_expr, levels)
    return f"""
        WITH long AS ({inner}),
        packed AS (
            SELECT {id_expr} AS id,
                   list(CAST(code AS BIGINT) ORDER BY d) AS codes
            FROM long GROUP BY {id_expr}),
        pairs AS (
            SELECT q.id AS q_id, c.id AS item_id,
                   list_sum(list_transform(
                       range(1, CAST(len(q.codes) AS INT) + 1),
                       i -> q.codes[CAST(i AS INT)]
                            * c.codes[CAST(i AS INT)])) AS dot
            FROM packed q CROSS JOIN packed c
            WHERE q.id IN (SELECT {id_expr} FROM {t}
                           WHERE {query_pred})
              AND q.id <> c.id)
        SELECT q_id, item_id, CAST(dot AS BIGINT) AS dot,
               CAST(row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY dot DESC, item_id ASC) AS INT) AS rank
        FROM pairs QUALIFY rank <= {k}
    """


# ---------------------------------------------------------------------------
# product quantization (PQ) — IVF-PQ's compression half
# ---------------------------------------------------------------------------

def pq_train_encode(df: SparkDF, vec_col: str, id_col: str,
                    m: int = 8, codebook_k: int = 16, iters: int = 2,
                    scale: int = 1000, train_cap: int | None = None,
                    carry_cols: tuple[str, ...] = ()
                    ) -> tuple[SparkDF, list[list[list[float]]]]:
    """Product quantization (Jegou et al. 2011): split each vector
    into ``m`` equal subspaces, train an independent ``codebook_k``-
    centroid k-means per subspace (the bit-deterministic Lloyd loop
    from ``functions/kmeans.py`` — same quantization, init, tie-break
    and empty-cluster rules, so the ENTIRE training replays as DuckDB
    CTEs), then encode every vector as ``m`` small codes:
    ``dim * 4`` bytes become ``m`` bytes (64-dim float32 -> 8 bytes at
    the defaults).

    Returns ``(codes_df, codebooks)``: ``codes_df`` is ``(id, codes
    array<int>)``; ``codebooks[sub][j]`` is the j-th centroid of
    subspace ``sub`` (quantized-int units, like the kmeans module).

    Scale shape: ALL ``m`` Lloyd loops advance together — each
    iteration is ONE map-side-combined aggregation over the exploded
    (sub, subvector) rows, with the current centroid selected per row
    by ``element_at`` on an array-of-arrays literal (no per-subspace
    jobs: ``iters`` actions total, not ``iters * m``; driver state =
    m * k * dim/m doubles). Encoding is ONE scan-local pass over the
    original vectors computing all ``m`` argmins — the corpus
    shuffles zero times.

    ``train_cap`` bounds TRAINING (init + every Lloyd pass) to a
    deterministic hash-ordered sample of ``min(n, train_cap)``
    vectors (``kmeans._train_sample`` — replayable cross-engine);
    encoding still covers the full corpus. A PQ codebook needs
    ~100k training vectors (Jegou et al. 2011 trains on a held-out
    learning set), so unsampled training runs ``iters``
    full-corpus passes for no accuracy gain — pass a cap on large
    corpora."""
    from pyspark import StorageLevel

    from .kmeans import _quantize, _train_sample

    # carry_cols ride the scan into the codes output (e.g. IVF-PQ's
    # cluster id) so callers need no corpus-sized join afterwards
    q = df.select(F.col(id_col).alias("__pq_id"),
                  _quantize(vec_col, scale).alias("__pq_q"),
                  *[F.col(c) for c in carry_cols])
    q = q.persist(StorageLevel.MEMORY_AND_DISK)
    if train_cap is not None:
        # Sampled training runs DRIVER-SIDE in numpy (the same move
        # as kmeans_fit_predict's train_cap path, see the rationale
        # there): the collect is bounded at train_cap rows, and the
        # distributed alternative paid per-iteration codegen of the
        # d_sub-wide sum aggregate on a few hundred cached rows.
        # Bit-identical: left-folded element-index-order distance
        # accumulation, exact int64 cluster sums, Python int/int
        # centroid division, first-match argmin, empty clusters keep
        # their centroid.
        import numpy as np
        srows = _train_sample(q, "__pq_id", train_cap).collect()
        srows.sort(key=lambda r: r["__pq_id"])
        if len(srows) < codebook_k:
            raise ValueError(f"codebook_k={codebook_k} exceeds "
                             f"corpus size {len(srows)}")
        dim = len(srows[0]["__pq_q"])
        if dim % m:
            raise ValueError(f"dim={dim} not divisible by m={m}")
        d_sub = dim // m
        sv = np.array([r["__pq_q"] for r in srows], dtype=np.int64)
        codebooks: list[list[list[float]]] = [
            [[float(v) for v in sv[i, s * d_sub:(s + 1) * d_sub]]
             for i in range(codebook_k)]
            for s in range(m)]
        for _ in range(iters):
            new_books = []
            for s in range(m):
                iv = sv[:, s * d_sub:(s + 1) * d_sub]
                xs = iv.astype(np.float64)
                c = np.asarray(codebooks[s], dtype=np.float64)
                d = np.zeros((xs.shape[0], codebook_k))
                for dd in range(d_sub):  # F.aggregate's fold order
                    diff = xs[:, dd, None] - c[None, :, dd]
                    d += diff * diff
                cl = np.argmin(d, axis=1)  # first-match tie-break
                new_books.append([
                    ([int(t) / n for t in iv[cl == j].sum(axis=0)]
                     if (n := int((cl == j).sum()))
                     else codebooks[s][j])
                    for j in range(codebook_k)])
            codebooks = new_books

        def sub_col(sub: int):
            return F.slice(F.col("__pq_q"), sub * d_sub + 1, d_sub)

        spark = df.sparkSession

        def cb_df():
            return F.broadcast(tiny_df(
                spark, [(codebooks,)],
                "__pq_cb array<array<array<double>>>"))

        return (_pq_encode(q, m, d_sub, sub_col, cb_df, id_col,
                           carry_cols), codebooks)

    head = q.orderBy("__pq_id").limit(codebook_k).collect()
    if len(head) < codebook_k:
        raise ValueError(f"codebook_k={codebook_k} exceeds corpus "
                         f"size {len(head)}")
    dim = len(head[0]["__pq_q"])
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m

    def sub_col(sub: int):
        return F.slice(F.col("__pq_q"), sub * d_sub + 1, d_sub)

    codebooks = [
        [[float(v) for v in row["__pq_q"][sub * d_sub:
                                          (sub + 1) * d_sub]]
         for row in head]
        for sub in range(m)]

    # exploded training layout: one row per (subspace, vector)
    sub_rows = (q.select(F.posexplode(F.array(
                    *[sub_col(s) for s in range(m)]))
                    .alias("__pq_sub", "__pq_s"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    # the full m x k x d_sub codebook set rides every pass as ONE
    # broadcast one-row DataFrame; distances are transform() over
    # the row's own subspace codebook (element_at on __pq_sub) —
    # O(1) expression tree regardless of m/k/dim. (Literal-array
    # expressions made Catalyst planning + codegen dominate: ~10 s
    # of planning for a <1 s data pass at sf0.1.) Arithmetic
    # unchanged: per-element index order, left-associated sum,
    # array_position first-match == smallest-j tie-break.
    spark = df.sparkSession

    def cb_df():
        return F.broadcast(tiny_df(
            spark, [(codebooks,)],
            "__pq_cb array<array<array<double>>>"))

    for _ in range(iters):
        darr = _dist_arr(F.col("__pq_s"),
                         F.element_at("__pq_cb", F.col("__pq_sub") + 1))
        tagged = (sub_rows.crossJoin(cb_df())
                          .withColumn("__pq_da", darr)
                          .withColumn(
                              "__pq_c",
                              (F.array_position(
                                  "__pq_da", F.array_min("__pq_da"))
                               - 1).cast("int")))
        sums = (tagged.groupBy("__pq_sub", "__pq_c")
                      .agg(F.count(F.lit(1)).alias("__pq_n"),
                           *[F.sum(F.element_at("__pq_s", d + 1))
                              .alias(f"__s{d}")
                             for d in range(d_sub)]))
        rows = {(r["__pq_sub"], r["__pq_c"]): r for r in sums.collect()}
        codebooks = [
            [([r[f"__s{d}"] / r["__pq_n"] for d in range(d_sub)]
              if (r := rows.get((s, j))) is not None
              else codebooks[s][j])
             for j in range(codebook_k)]
            for s in range(m)]
    sub_rows.unpersist()

    return _pq_encode(q, m, d_sub, sub_col, cb_df, id_col,
                      carry_cols), codebooks


def _dist_arr(sub_vec, cb_sub):
    """Squared-L2 distances from one sub-vector to every centroid of
    one subspace codebook (array column), as a pure scan-local HOF
    expression. SINGLE definition shared by the distributed-training
    assignment pass and the encode stage (ADVICE r13: two identical
    copies were a drift hazard for the bit-identity contract —
    per-element index order, left-associated sum, first-match
    tie-break all live here and only here)."""
    return F.transform(
        cb_sub,
        lambda c: F.aggregate(
            F.zip_with(sub_vec.cast("array<double>"), c,
                       lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0.0), lambda a, t: a + t))


def _pq_encode(q: SparkDF, m: int, d_sub: int, sub_col, cb_df,
               id_col: str, carry_cols: tuple[str, ...]) -> SparkDF:
    """The encode stage shared by both training paths: ONE scan-local
    pass over the persisted quantized corpus computing all ``m``
    argmins at once against the broadcast codebook row (see
    pq_train_encode's planning note on why broadcast, not literal
    arrays)."""
    code_cols = []
    for sub in range(m):
        darr = _dist_arr(sub_col(sub), F.element_at("__pq_cb", sub + 1))
        code_cols.append(
            (F.array_position(darr, F.array_min(darr)) - 1)
            .cast("int"))
    codes = q.crossJoin(cb_df()) \
             .select(F.col("__pq_id").alias(id_col),
                     *[F.col(c) for c in carry_cols],
                     F.array(*code_cols).alias("codes"))
    codes._cps_persisted = [q]  # see dedup.release()
    return codes


def pq_adc_topk(codes: SparkDF, codebooks: list[list[list[float]]],
                queries: SparkDF, vec_col: str, id_col: str,
                k: int = 10, scale: int = 1000) -> SparkDF:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    builds an ``m x codebook_k`` lookup table of exact subspace
    distances to every centroid; a candidate's distance is the SUM of
    ``m`` table lookups — never a full-vector computation per pair.
    Output ``(q_id, item_id, adc_micro, rank)``; ``adc_micro`` is the
    floor-1e6 fixed-order double sum, hash-checkable cross-engine.

    Plan: the m x k LUT is computed ONCE PER QUERY ROW (on the tiny
    query side, from a broadcast codebook DataFrame) and broadcast
    with the queries; each corpus candidate then costs exactly m
    array lookups — the corpus side reads only ``(id, codes)``,
    m bytes of payload per row, and never touches float distance
    arithmetic. One window per query for the top-k."""
    from pyspark.sql import Window

    from .kmeans import _quantize

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    # codebooks as a broadcast one-row DataFrame (not literal-array
    # expressions — see pq_train_encode's planning note)
    cb = F.broadcast(tiny_df(
        queries.sparkSession, [(codebooks,)],
        "__pq_cb array<array<array<double>>>"))

    def _lut(sub):
        sc = F.slice(F.col("__pq_qv"), sub * d_sub + 1, d_sub) \
              .cast("array<double>")
        return F.transform(
            F.element_at("__pq_cb", sub + 1),
            lambda c: F.aggregate(
                F.zip_with(sc, c, lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0.0), lambda a, t: a + t))

    qv = (queries.select(F.col(id_col).alias("q_id"),
                         _quantize(vec_col, scale).alias("__pq_qv"))
                 .crossJoin(cb)
                 .select("q_id",
                         F.array(*[_lut(s) for s in range(m)])
                          .alias("__pq_lut")))
    joined = codes.select(F.col(id_col).alias("item_id"), "codes") \
                  .crossJoin(F.broadcast(qv)) \
                  .where(F.col("item_id") != F.col("q_id"))
    total = F.lit(0.0)
    for sub in range(m):
        total = total + F.element_at(
            F.element_at("__pq_lut", sub + 1),
            F.element_at("codes", sub + 1) + 1)
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_micro").asc(), F.col("item_id").asc())
    return (joined.withColumn("adc_micro",
                              F.floor(total * 1_000_000)
                               .cast("bigint"))
                  .select("q_id", "item_id", "adc_micro")
                  .withColumn("rank",
                              F.row_number().over(w).cast("int"))
                  .where(F.col("rank") <= k))

def pq_topk_oracle_sql(t: str, id_expr: str, vec_expr: str,
                       query_pred: str, dim: int, m: int = 8,
                       codebook_k: int = 16, iters: int = 2,
                       k: int = 10, scale: int = 1000,
                       train_cap: int | None = None) -> str:
    """DuckDB replay of :func:`pq_train_encode` +
    :func:`pq_adc_topk`: ``m`` independent kmeans CTE chains (the
    ``kmeans_oracle_parts`` recurrence over each subspace slice,
    CTE names prefixed per subspace), per-subspace code assignment,
    per-query centroid-distance lookup tables, then the identical
    fixed-order ADC sum and ranking. The whole PQ pipeline —
    training included — is value-checked, not just the plumbing.
    With ``train_cap`` one shared hash-ordered sample CTE feeds all
    ``m`` training chains, replaying the sampled Spark training."""
    import re

    from .kmeans import kmeans_oracle_parts, train_sample_order_sql

    d_sub = dim // m
    chain_names = (["q", "qf", "c0"]
                   + [x for i in range(iters)
                      for x in (f"a{i}", f"u{i}", f"c{i + 1}")])
    parts: list[str] = []
    train_t, assign_t, full_q = t, None, "q"
    if train_cap is not None:
        parts.append(
            f"pqtrain AS (SELECT * FROM {t} ORDER BY "
            f"{train_sample_order_sql(id_expr)} LIMIT {train_cap})")
        train_t, assign_t, full_q = "pqtrain", t, "qf"
    for sub in range(m):
        sub_expr = f"{vec_expr}[{sub * d_sub + 1}:{(sub + 1) * d_sub}]"
        sp, final = kmeans_oracle_parts(
            train_t, sub_expr, id_expr, d_sub, codebook_k, iters,
            scale, assign_t=assign_t)
        for name in chain_names:
            sp = [_rename_cte(p, name, f"s{sub}_{name}") for p in sp]
            final = _rename_cte(final, name, f"s{sub}_{name}")
        parts.extend(sp)
        parts.append(
            f"s{sub}_code AS (SELECT {id_expr} AS id, cluster AS code"
            f" FROM ({final}))")
    # one row per item with all m codes
    joins = " ".join(
        f"JOIN s{sub}_code s{sub} ON s{sub}.id = s0.id"
        for sub in range(1, m))
    code_sel = ", ".join(f"s{sub}.code AS code{sub}"
                         for sub in range(m))
    parts.append(f"item_codes AS (SELECT s0.id AS item_id, "
                 f"{code_sel} FROM s0_code s0 {joins})")
    # per-query LUT per subspace: exact distance to every centroid,
    # from the namespaced quantized table x final centroids
    for sub in range(m):
        d2 = " + ".join(
            f"(CAST(q.q{d} AS DOUBLE) - c.c{d}) * "
            f"(CAST(q.q{d} AS DOUBLE) - c.c{d})" for d in range(d_sub))
        parts.append(
            f"lut{sub} AS (SELECT q.id AS q_id, c.j AS code, {d2} AS d"
            f" FROM s{sub}_{full_q} q CROSS JOIN s{sub}_c{iters} c"
            f" WHERE q.id IN (SELECT {id_expr} FROM {t}"
            f" WHERE {query_pred}))")
    adc = " + ".join(f"l{sub}.d" for sub in range(m))
    ljoins = " ".join(
        f"JOIN lut{sub} l{sub} ON l{sub}.q_id = l0.q_id"
        f" AND l{sub}.code = i.code{sub}" for sub in range(1, m))
    # force MATERIALIZED: DuckDB inlines multiply-referenced CTEs by
    # default, and the per-iteration recurrence inlined across 8
    # subspace chains explodes the plan (measured 207 s -> sub-second
    # with materialization; results identical)
    parts = [re.sub(r"^(\s*\S+ AS )\(", r"\1MATERIALIZED (", p,
                    count=1) for p in parts]
    return ("WITH " + ",\n".join(parts) + f"""
        , pairs AS (
            SELECT l0.q_id, i.item_id,
                   CAST(FLOOR(({adc}) * 1000000) AS BIGINT)
                       AS adc_micro
            FROM item_codes i
            JOIN lut0 l0 ON l0.code = i.code0
            {ljoins}
            WHERE i.item_id <> l0.q_id)
        SELECT q_id, item_id, adc_micro,
               CAST(row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY adc_micro ASC, item_id ASC) AS INT)
                   AS rank
        FROM pairs QUALIFY rank <= {k}""")


def _rename_cte(sql: str, name: str, new: str) -> str:
    """Rename a CTE identifier inside generated oracle SQL — used to
    namespace the per-subspace kmeans chains. The kmeans chain names
    (``c0``, ``c1``, ...) textually collide with its centroid COLUMN
    names, so qualified column refs (``p.c0``) and column aliases
    (``AS c0``) are protected by lookbehinds; CTE definitions
    (``c0 AS (``) and table usages (``FROM c0``, ``JOIN c1 c``) are
    renamed."""
    import re

    return re.sub(rf"(?<!\.)(?<!AS )\b{re.escape(name)}\b", new, sql)
