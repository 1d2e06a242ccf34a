"""IVF-PQ — the billion-vector serving structure (Jegou, Douze,
Schmid 2011, "Product Quantization for Nearest Neighbor Search",
section IV): a coarse k-means quantizer splits the corpus into
``nlist`` inverted lists, vectors are PQ-encoded on their RESIDUAL
to the list centroid, and a query scans only its ``nprobe`` closest
lists with asymmetric-distance (ADC) table lookups.

This composes the repo's two existing halves — the deterministic
Lloyd k-means (``kmeans.py``) and residual product quantization
(``quantize.py``) — into the actual serving pipeline:

- build: coarse assign (sampled training) -> residual = quantized
  vector minus its list centroid -> PQ codebooks trained on a
  sampled residual set -> every vector stored as ``(cluster, m
  codes)`` = a handful of bytes.
- search: query scores ``nlist`` centroids (broadcast, k x dim
  doubles), takes ``nprobe`` lists, builds one m x k LUT per
  (query, probed list) from the query's PER-LIST residual, then
  each candidate costs m integer lookups.

Scale shape: the codes table is the ONLY corpus-sized object; the
search side joins it against a BROADCAST probe table (nq x nprobe
rows carrying the LUTs), so candidate generation is a broadcast hash
join on cluster — nprobe/nlist of the corpus, no shuffle of the
corpus. ``ivfpq_write`` materializes the codes partitioned by
cluster so the probe predicate prunes whole directories at planning
time (witnessed by pytest, like ``ivf_write``).

Everything — both trainings, the residuals, probe selection, the
LUTs, the ADC sum — is bit-deterministic and replays as DuckDB CTEs
(``ivfpq_topk_oracle_sql``), same arithmetic rules as the kmeans
module (exact integer inputs, fixed-order IEEE double ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

from ..session import tiny_df

from .kmeans import (_quantize, kmeans_fit_predict, kmeans_oracle_parts,
                     train_sample_order_sql)
from .quantize import _rename_cte, pq_train_encode

__all__ = ["ivfpq_build", "ivfpq_search", "ivfpq_search_rerank",
           "ivfpq_write", "ivfpq_read_search", "ivfpq_topk_oracle_sql"]


def _residuals(asg: SparkDF, id_col: str,
               cents: list[list[float]]) -> SparkDF:
    """``(id, cluster, __ivq_rv)`` with the residual in QUANTIZED
    units: ``floor(x*scale) - centroid`` per dimension (exact bigint
    cast to double, minus the centroid's single-division double —
    two IEEE ops, replayable). PQ then quantizes the residual with
    scale=1, i.e. ``floor(residual)``. ``asg`` is the k-means
    assignment CARRYING the quantized vector (``with_vector``), so
    this is a scan-local projection — no join back to the corpus."""
    spark = asg.sparkSession
    cb = F.broadcast(tiny_df(
        spark, [(cents,)], "__ivq_cb array<array<double>>"))
    return (asg.crossJoin(cb)
               .select(id_col, "cluster",
                       F.zip_with(
                           F.col("__ivq_q").cast("array<double>"),
                           F.element_at("__ivq_cb",
                                        F.col("cluster") + 1),
                           lambda x, c: x - c).alias("__ivq_rv")))


def ivfpq_build(df: SparkDF, vec_col: str, id_col: str,
                nlist: int = 8, coarse_iters: int = 2, m: int = 8,
                codebook_k: int = 16, pq_iters: int = 2,
                scale: int = 1000,
                coarse_cap: int | None = None,
                pq_cap: int | None = None):
    """Returns ``(codes_df, cents, books)``: ``codes_df`` is
    ``(id, cluster, codes array<int>)`` — the full serving index at
    ~``m + 4`` bytes per vector; ``cents`` the nlist x dim coarse
    centroids; ``books`` the m x codebook_k x dim/m PQ codebooks
    (both in quantized units, driver-side lists).

    ``coarse_cap`` / ``pq_cap`` bound BOTH trainings to
    deterministic hash-ordered samples (``kmeans._train_sample``) —
    each training is one bounded pass, and only the
    assignment/encoding scans touch the full corpus. The whole build
    is JOIN-FREE on the corpus: the assignment carries the quantized
    vector (``with_vector``), residuals are a scan-local projection,
    and the cluster id rides through encoding (``carry_cols``)."""
    asg, cents = kmeans_fit_predict(df, vec_col, id_col, k=nlist,
                                    iters=coarse_iters, scale=scale,
                                    train_cap=coarse_cap,
                                    return_centroids=True,
                                    with_vector="__ivq_q")
    resid = _residuals(asg, id_col, cents)
    codes, books = pq_train_encode(resid, "__ivq_rv", id_col, m=m,
                                   codebook_k=codebook_k,
                                   iters=pq_iters, scale=1,
                                   train_cap=pq_cap,
                                   carry_cols=("cluster",))
    out = codes.select(id_col, "cluster", "codes")
    out._cps_persisted = getattr(codes, "_cps_persisted", [])
    return out, cents, books


def ivfpq_search(codes: SparkDF, cents: list[list[float]],
                 books: list[list[list[float]]], queries: SparkDF,
                 vec_col: str, id_col: str, k: int = 10,
                 nprobe: int = 4, scale: int = 1000) -> SparkDF:
    """ADC top-``k`` over the ``nprobe`` closest inverted lists per
    query: ``(q_id, item_id, adc_micro, rank)``. ``adc_micro`` is
    the floor-1e6 fixed-order ADC double sum — hash-checkable.

    Plan: probe selection + LUT construction happen on the tiny
    query side (nq x nlist, then nq x nprobe rows each carrying an
    m x k LUT); candidates come from ONE broadcast hash join of the
    corpus codes against the probe table on cluster — the corpus
    never shuffles, and a partitioned codes table prunes non-probed
    lists at the scan (see :func:`ivfpq_read_search`)."""
    spark = queries.sparkSession
    m = len(books)
    d_sub = len(books[0][0])
    cb = F.broadcast(tiny_df(
        spark, [(cents,)], "__ivq_cb array<array<double>>"))
    qq = queries.select(F.col(id_col).alias("q_id"),
                        _quantize(vec_col, scale).alias("__ivq_qq"))

    # probe selection: same distance expression as coarse assignment
    cdist = F.aggregate(
        F.zip_with(F.col("__ivq_qq").cast("array<double>"),
                   F.col("__ivq_c"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda a, t: a + t)
    wprobe = Window.partitionBy("q_id").orderBy(
        F.col("__ivq_cd").asc(), F.col("cluster").asc())
    probes = (qq.crossJoin(cb)
                .select("q_id", "__ivq_qq",
                        F.posexplode("__ivq_cb")
                         .alias("cluster", "__ivq_c"))
                .withColumn("__ivq_cd", cdist)
                .withColumn("__ivq_rn", F.row_number().over(wprobe))
                .where(F.col("__ivq_rn") <= nprobe))

    # per-(query, list) LUT from the query's PER-LIST residual,
    # floor-quantized exactly like the corpus residuals (pq scale=1)
    rq = F.transform(
        F.zip_with(F.col("__ivq_qq").cast("array<double>"),
                   F.col("__ivq_c"), lambda x, c: x - c),
        lambda x: F.floor(x).cast("long"))
    bb = F.broadcast(tiny_df(
        spark, [(books,)], "__ivq_bb array<array<array<double>>>"))

    def _lut(sub):
        # NB: a factory (not a loop-local lambda default arg) — an
        # extra lambda parameter would make PySpark treat the
        # transform lambda as the binary (element, index) form
        sc = F.slice(F.col("__ivq_rq"), sub * d_sub + 1, d_sub) \
              .cast("array<double>")
        return F.transform(
            F.element_at("__ivq_bb", sub + 1),
            lambda c: F.aggregate(
                F.zip_with(sc, c, lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0.0), lambda a, t: a + t))

    luts = [_lut(sub) for sub in range(m)]
    ptab = (probes.withColumn("__ivq_rq", rq)
                  .crossJoin(bb)
                  .select("q_id", "cluster",
                          F.array(*luts).alias("__ivq_lut")))

    # candidates: broadcast hash join on cluster; ADC = m lookups
    joined = codes.select(F.col(id_col).alias("item_id"),
                          "cluster", "codes") \
                  .join(F.broadcast(ptab), "cluster") \
                  .where(F.col("item_id") != F.col("q_id"))
    total = F.lit(0.0)
    for sub in range(m):
        total = total + F.element_at(
            F.element_at("__ivq_lut", sub + 1),
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


def ivfpq_search_rerank(codes: SparkDF, cents: list[list[float]],
                        books: list[list[list[float]]],
                        queries: SparkDF, corpus: SparkDF,
                        vec_col: str, id_col: str, k: int = 10,
                        nprobe: int = 4, depth: int = 50,
                        scale: int = 1000) -> SparkDF:
    """Two-stage retrieval (the standard production serving shape —
    Jegou section V's IVFADC+R refinement): stage 1 takes the ADC
    top-``depth`` candidates per query from :func:`ivfpq_search`
    (compressed-domain, m lookups per candidate), stage 2 reranks
    ONLY those candidates with the exact cosine against the raw
    vectors and emits the top-``k``. Fixes the PQ approximation
    error at the top of the list for ``depth``x``nq`` exact
    distances — never a corpus-wide exact pass.

    Plan: the candidate table (nq x depth rows, carrying the query
    vector) BROADCASTS onto the corpus scan — the corpus never
    shuffles in either stage. Returns ``(q_id, item_id, cosine,
    rank)`` in the repo's floor-1e4 cosine convention."""
    from .similarity import cosine_sim

    cand = ivfpq_search(codes, cents, books, queries, vec_col,
                        id_col, k=depth, nprobe=nprobe, scale=scale)
    qv = queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("__ivq_qv"))
    iv = corpus.select(F.col(id_col).alias("item_id"),
                       F.col(vec_col).alias("__ivq_iv"))
    pairs = iv.join(F.broadcast(cand.select("q_id", "item_id")
                                    .join(qv, "q_id")), "item_id")
    sim = cosine_sim(F.col("__ivq_qv"), F.col("__ivq_iv"))
    scored = pairs.select(
        "q_id", "item_id",
        (F.floor(sim * 10000) / 10000).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(),
                                           F.col("item_id").asc())
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
                  .where(F.col("rank") <= k))


def ivfpq_write(codes: SparkDF, path: str,
                mode: str = "overwrite") -> None:
    """Materialize the IVF-PQ codes PARTITIONED BY cluster — one
    directory per inverted list, so a search's ``cluster IN probes``
    predicate prunes non-probed lists at planning time (the on-disk
    layout of Jegou section IV's inverted file)."""
    codes.repartition("cluster") \
         .write.mode(mode).partitionBy("cluster").parquet(path)


def ivfpq_read_search(spark, path: str, cents: list[list[float]],
                      books: list[list[list[float]]],
                      queries: SparkDF, vec_col: str, id_col: str,
                      k: int = 10, nprobe: int = 4,
                      scale: int = 1000) -> SparkDF:
    """Search a :func:`ivfpq_write` index. The probed cluster ids are
    computed driver-side from the centroid list (no Spark job), so
    the codes scan carries ``cluster IN (...)`` as a PARTITION
    filter — non-probed directories are never opened
    (pytest-witnessed)."""
    qrows = queries.select(F.col(id_col).alias("q_id"),
                           _quantize(vec_col, scale)
                           .alias("__ivq_qq")).collect()
    probed: set[int] = set()
    for r in qrows:
        qv = [float(x) for x in r["__ivq_qq"]]
        dists = []
        for j, c in enumerate(cents):
            d = 0.0
            for x, cc in zip(qv, c):
                diff = x - cc
                d = d + diff * diff
            dists.append((d, j))
        dists.sort()
        probed.update(j for _, j in dists[:nprobe])
    codes = spark.read.parquet(path) \
                 .where(F.col("cluster").isin(sorted(probed)))
    return ivfpq_search(codes, cents, books, queries, vec_col,
                        id_col, k=k, nprobe=nprobe, scale=scale)


# ---------------------------------------------------------------------------
# DuckDB oracle: the ENTIRE pipeline replays — coarse training,
# residuals, PQ training, probe selection, LUTs, ADC sum
# ---------------------------------------------------------------------------

def ivfpq_topk_oracle_sql(t: str, id_expr: str, vec_expr: str,
                          query_pred: str, dim: int, nlist: int = 8,
                          coarse_iters: int = 2, m: int = 8,
                          codebook_k: int = 16, pq_iters: int = 2,
                          k: int = 10, nprobe: int = 4,
                          scale: int = 1000,
                          coarse_cap: int | None = None,
                          pq_cap: int | None = None) -> str:
    """DuckDB replay of :func:`ivfpq_build` + :func:`ivfpq_search`."""
    import re

    d_sub = dim // m
    parts: list[str] = []

    # --- coarse kmeans chain, namespaced cv_* ---
    cv_names = (["ktrain", "q", "qf", "c0"]
                + [x for i in range(coarse_iters)
                   for x in (f"a{i}", f"u{i}", f"c{i + 1}")])
    sp, final = kmeans_oracle_parts(t, vec_expr, id_expr, dim,
                                    nlist, coarse_iters, scale,
                                    train_cap=coarse_cap)
    for name in cv_names:
        sp = [_rename_cte(p, name, f"cv_{name}") for p in sp]
        final = _rename_cte(final, name, f"cv_{name}")
    parts.extend(sp)
    parts.append(f"cvasg AS ({final})")
    full_cv = "cv_qf" if coarse_cap is not None else "cv_q"

    # --- residuals in quantized units (list of dim doubles) ---
    rv = ", ".join(f"CAST(q.q{d} AS DOUBLE) - c.c{d}"
                   for d in range(dim))
    parts.append(
        f"resid AS (SELECT q.id AS {id_expr}, a.cluster, [{rv}] AS rv"
        f" FROM {full_cv} q"
        f" JOIN cvasg a ON a.{id_expr} = q.id"
        f" JOIN cv_c{coarse_iters} c ON c.j = a.cluster)")

    # --- PQ chains over the residuals (shared sampled-training CTE,
    #     same structure as pq_topk_oracle_sql) ---
    pq_names = (["q", "qf", "c0"]
                + [x for i in range(pq_iters)
                   for x in (f"a{i}", f"u{i}", f"c{i + 1}")])
    train_t, assign_t = "resid", None
    if pq_cap is not None:
        parts.append(
            f"pqtrain AS (SELECT * FROM resid ORDER BY "
            f"{train_sample_order_sql(id_expr)} LIMIT {pq_cap})")
        train_t, assign_t = "pqtrain", "resid"
    for sub in range(m):
        sub_expr = f"rv[{sub * d_sub + 1}:{(sub + 1) * d_sub}]"
        sp, final = kmeans_oracle_parts(
            train_t, sub_expr, id_expr, d_sub, codebook_k, pq_iters,
            scale=1, assign_t=assign_t)
        for name in pq_names:
            sp = [_rename_cte(p, name, f"s{sub}_{name}") for p in sp]
            final = _rename_cte(final, name, f"s{sub}_{name}")
        parts.extend(sp)
        parts.append(
            f"s{sub}_code AS (SELECT {id_expr} AS id, cluster AS code"
            f" FROM ({final}))")
    joins = " ".join(f"JOIN s{sub}_code s{sub} ON s{sub}.id = s0.id"
                     for sub in range(1, m))
    code_sel = ", ".join(f"s{sub}.code AS code{sub}"
                         for sub in range(m))
    parts.append(
        f"item_codes AS (SELECT s0.id AS item_id, r.cluster, "
        f"{code_sel} FROM s0_code s0 {joins} "
        f"JOIN resid r ON r.{id_expr} = s0.id)")

    # --- probe selection: nprobe closest coarse centroids/query ---
    cdist = " + ".join(
        f"(CAST(q.q{d} AS DOUBLE) - c.c{d}) * "
        f"(CAST(q.q{d} AS DOUBLE) - c.c{d})" for d in range(dim))
    parts.append(
        f"qv AS (SELECT * FROM {full_cv} WHERE id IN "
        f"(SELECT {id_expr} FROM {t} WHERE {query_pred}))")
    parts.append(
        f"probes AS (SELECT q_id, cluster FROM ("
        f"SELECT q.id AS q_id, c.j AS cluster, row_number() OVER ("
        f"PARTITION BY q.id ORDER BY {cdist}, c.j) AS rn "
        f"FROM qv q CROSS JOIN cv_c{coarse_iters} c) "
        f"WHERE rn <= {nprobe})")

    # --- per-(query, list) residual, floor-quantized (pq scale=1) ---
    rq = ", ".join(
        f"CAST(FLOOR(CAST(q.q{d} AS DOUBLE) - c.c{d}) AS BIGINT)"
        for d in range(dim))
    parts.append(
        f"qres AS (SELECT p.q_id, p.cluster, [{rq}] AS rq"
        f" FROM probes p JOIN qv q ON q.id = p.q_id"
        f" JOIN cv_c{coarse_iters} c ON c.j = p.cluster)")

    # --- LUTs: distance from the query's list-residual subvector to
    #     every PQ centroid of that subspace ---
    for sub in range(m):
        d2 = " + ".join(
            f"(CAST(r.rq[{sub * d_sub + d + 1}] AS DOUBLE) - c.c{d}) *"
            f" (CAST(r.rq[{sub * d_sub + d + 1}] AS DOUBLE) - c.c{d})"
            for d in range(d_sub))
        parts.append(
            f"lut{sub} AS (SELECT r.q_id, r.cluster, c.j AS code, "
            f"{d2} AS d FROM qres r CROSS JOIN s{sub}_c{pq_iters} c)")

    adc = " + ".join(f"l{sub}.d" for sub in range(m))
    ljoins = " ".join(
        f"JOIN lut{sub} l{sub} ON l{sub}.q_id = l0.q_id"
        f" AND l{sub}.cluster = i.cluster"
        f" AND l{sub}.code = i.code{sub}" for sub in range(1, m))
    parts = [re.sub(r"^(\s*\S+ AS )\(", r"\1MATERIALIZED (", p,
                    count=1) for p in parts]
    return ("WITH " + ",\n".join(parts) + f"""
        , pairs AS (
            SELECT l0.q_id, i.item_id,
                   CAST(FLOOR(({adc}) * 1000000) AS BIGINT)
                       AS adc_micro
            FROM item_codes i
            JOIN lut0 l0 ON l0.cluster = i.cluster
                        AND l0.code = i.code0
            {ljoins}
            WHERE i.item_id <> l0.q_id)
        SELECT q_id, item_id, adc_micro,
               CAST(row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY adc_micro ASC, item_id ASC) AS INT)
                   AS rank
        FROM pairs QUALIFY rank <= {k}""")
