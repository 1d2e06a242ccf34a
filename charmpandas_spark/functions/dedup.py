"""Deduplication operators for training-data pipelines.

Five dedup families, all beyond the reference surface (north star):

- exact:        md5-fingerprint groupwise keep-first
- n-gram Jaccard: EXACT pairwise similarity at scale via an inverted
                  shingle index (explode -> self-join -> count common),
                  never a full cross join
- MinHash+LSH:  signature -> bands -> bucket-join candidates -> verify
- SimHash:      per-bit majority vote over token hashes
- embedding:    cosine near-dup over ArrayType embeddings (see
                similarity.py for the ANN scale path)

Scale design:
- Everything is DataFrame ops: explode/groupBy/join — Catalyst plans
  the shuffles, AQE handles skewed shingles.
- Hashing defaults to ``xxhash64`` (one JVM call, zero-copy). Pass
  ``hash_fn='md5'`` for bit-identical cross-engine oracles (md5 is
  the only 64-bit-derivable hash both Spark and DuckDB implement
  identically).
- The O(n^2) verify stage only ever runs on LSH/band candidates, not
  the corpus.
- Every blocked pair join (MinHash bands, SimHash/dHash blocks,
  shingle and prefix indexes, q-grams, the embedding ANN tables)
  goes through one core, ``_blocked_pairs``: key-equality join,
  canonical pair rule, verify before the pair dedup, one dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDF, Window, functions as F

from .text import fingerprint, normalize_text

__all__ = [
    "spread",
    "release",
    "hash64",
    "exact_dedup",
    "exact_dedup_survivors",
    "ngram_jaccard_pairs",
    "cross_corpus_pairs",
    "minhash_signatures",
    "minhash_params",
    "MINHASH_P",
    "lsh_candidate_pairs",
    "minhash_near_dup",
    "simhash",
    "simhash_near_dup",
    "connected_components",
    "dedup_clusters",
    "line_dedup",
    "line_dedup_sql",
    "duplicate_spans",
    "duplicate_spans_sql",
    "remove_duplicate_spans",
    "remove_duplicate_spans_sql",
    "jaccard_pairs_prefix",
    "jaccard_prefix_candidates",
    "jaccard_pairs_prefix_sql",
    "decontaminate",
    "decontaminate_sql",
    "fingerprint_index_write",
    "dedup_incremental",
    "minhash_index_write",
    "minhash_dedup_incremental",
    "edit_distance_pairs",
    "edit_distance_pairs_sql",
]


def spread(df: SparkDF, partitions: int | None = None) -> SparkDF:
    """Round-robin repartition small/single-file inputs so downstream
    explode/hash/join pipelines parallelize across all cores. A table
    read from one parquet file is ONE partition — every per-row-heavy
    operator after it would run on a single task. At real scale inputs
    already have many splits and AQE coalesces the excess, so this is
    a no-op-ish guard, not a tuning knob."""
    if partitions is None:
        spark = df.sparkSession
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Plan-side estimate: every call site feeds a projection of a file
    # scan, so the input-file count bounds the scan's split count from
    # below (large files split further via maxPartitionBytes — fine,
    # the guard then just skips a redundant repartition less often than
    # it could, never more). Avoids ``df.rdd.getNumPartitions()``,
    # which forced physical planning + a Python RDD conversion on
    # every dedup/similarity/text call.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= partitions:
        return df
    return df.repartition(partitions)


def release(df: SparkDF) -> None:
    """Unpersist the intermediates a dedup pipeline pinned
    (``ngram_jaccard_pairs`` / ``minhash_near_dup`` attach their
    persisted shingle/signature handles to the returned DataFrame).
    Call after materializing the result in a long-lived session so
    cached blocks don't accumulate until the ContextCleaner happens
    to run; a no-op for DataFrames without pinned intermediates.
    Handles may be persisted DataFrames or
    :class:`_CheckpointHandle`s — anything with ``unpersist()``."""
    for handle in getattr(df, "_cps_persisted", ()):
        handle.unpersist()


def _blocked_pairs(a: SparkDF, keys: list[str], doc: str = "doc",
                   carry: tuple[str, ...] = (), verify=None,
                   b: SparkDF | None = None, hint: str | None = None,
                   count: str | None = None) -> SparkDF:
    """The partition -> prune -> verify core every blocked similarity
    join shares: rows ``(doc, *keys, *carry)`` meet their block mates
    in one equi-join on ``keys``, each pair once.

    - Pair rule: without ``b`` (self mode) a pair is ``a.doc <
      b.doc``; with ``b`` (cross mode) it is one row of ``a`` by one
      row of ``b``, and an id present on both sides pairs with itself.
    - Output: ``<doc>_a``, ``<doc>_b`` and each carried column as
      ``<col>_a``/``<col>_b``.
    - ``verify`` (``DataFrame -> DataFrame``) runs on the join output
      BEFORE the dedup exchange, so it can read only carried columns;
      it filters and projects the pair rows down to the dedup key.
      A pair sharing several blocks is verified once per block; the
      rows it keeps must be a function of the pair, so the copies
      are identical and the dedup leaves one.
    - Dedup: ``distinct``, or with ``count`` a group-by that counts
      the blocks each pair shares into that column.
    ``hint`` is a join-strategy hint on the ``b`` side."""
    right = a if b is None else b
    if hint:
        right = right.hint(hint)
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if b is None:
        on.append(F.col(f"a.{doc}") < F.col(f"b.{doc}"))
    pairs = a.alias("a").join(right.alias("b"), on=on).select(
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
          for s in "ab" for c in (doc, *carry)])
    if verify is not None:
        pairs = verify(pairs)
    if count is None:
        return pairs.distinct()
    return pairs.groupBy(*pairs.columns).agg(F.count(F.lit(1)).alias(count))


class _CheckpointHandle:
    """``unpersist()``-able handle for an eager ``localCheckpoint``'s
    storage blocks. A checkpointed DataFrame is NOT in the
    CacheManager, so ``df.unpersist()`` can't free it — the blocks
    live as persisted RDDs reclaimed only on RDD GC (ADVICE r12: in a
    long session repeated builds accumulate executor storage). The
    handle frees them deterministically through the persistent-RDD
    registry. After ``unpersist()`` the checkpointed DataFrame is
    DEAD (its RDD is gone and non-recomputable) — release() is
    correct only after the result is materialized, which is the
    existing release() contract."""

    def __init__(self, sc, rdd_ids):
        self._sc, self._ids = sc, rdd_ids

    def unpersist(self):
        try:
            reg = self._sc._jsc.sc().getPersistentRDDs()
            for i in self._ids:
                opt = reg.get(i)
                if opt.isDefined():
                    opt.get().unpersist(False)
        except Exception:
            pass  # freeing is hygiene; never fail a pipeline over it


#: when not None, every tracked_local_checkpoint captures the
#: PRE-checkpoint plan's facts here (VERDICT r16 #6): an eager
#: checkpoint executes its subtree's scans before the final plan is
#: ever audited, so a checkpoint-fronted query used to show empty
#: scan_widths / zero pushed_filters — pushdown asserted in prose,
#: not measured. tools/plan_audit.py flips this on around each query.
_PRE_CHECKPOINT_AUDIT: list | None = None


def capture_pre_checkpoint_plans(on: bool) -> list:
    """Enable/disable pre-checkpoint plan capture; returns the live
    capture list (audit tooling reads it after running a query)."""
    global _PRE_CHECKPOINT_AUDIT
    _PRE_CHECKPOINT_AUDIT = [] if on else None
    return _PRE_CHECKPOINT_AUDIT if on else []


def tracked_local_checkpoint(df: SparkDF):
    """Eager ``localCheckpoint`` that also returns a
    :class:`_CheckpointHandle` for its storage blocks, so producers
    can attach it to ``_cps_persisted`` and ``release()`` frees the
    blocks instead of waiting for RDD GC.

    localCheckpoint trades executor-loss recovery for speed: the
    blocks are non-recomputable, so on a real cluster an executor
    loss fails the job (Spark resubmits it from the source). That is
    the standard trade for lineage-truncating iterative operators;
    masters needing fault-tolerant checkpoints should configure
    ``spark.checkpoint.dir`` and use reliable ``checkpoint()``
    instead — same plan shape, extra HDFS round-trip."""
    sc = df.sparkSession.sparkContext

    def _ids():
        reg = sc._jsc.sc().getPersistentRDDs()
        it, out = reg.keysIterator(), []
        while it.hasNext():
            out.append(it.next())
        return set(out)

    if _PRE_CHECKPOINT_AUDIT is not None:
        from ..plans.explain import plan_report
        try:  # side-effect-free (no execute) — audit mode only
            _PRE_CHECKPOINT_AUDIT.append(plan_report(df))
        except Exception:
            pass
    before = _ids()
    cp = df.localCheckpoint()
    return cp, _CheckpointHandle(sc, _ids() - before)


def hash64(col: Column, seed: int | Column = 0, hash_fn: str = "xxhash64") -> Column:
    """64-bit hash of a string column.

    ``xxhash64``: Spark-native, fastest (production path).
    ``md5``: first 15 hex chars of md5 as a bigint — bit-identical in
    DuckDB via ``('0x' || substr(md5(x),1,15))::BIGINT``; use for
    cross-engine verification.
    """
    seed_col = F.lit(seed) if isinstance(seed, int) else seed
    if hash_fn == "xxhash64":
        return F.xxhash64(seed_col, col)
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.concat(seed_col.cast("string"), F.lit(":"),
                                       col).cast("binary")), 1, 15),
            16, 10).cast("bigint")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hash64_sql(expr: str, seed: str = "0") -> str:
    """DuckDB twin of ``hash64(..., hash_fn='md5')``."""
    return (f"CAST(concat('0x', substr(md5(concat(CAST({seed} AS VARCHAR), "
            f"':', {expr})), 1, 15)) AS BIGINT)")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: SparkDF, text_col: str, id_col: str) -> SparkDF:
    """Keep the lowest-id row per identical (normalized) text.

    One shuffle: window by fingerprint + row_number. The window
    partitions by the fingerprint hash; nothing reaches the driver.
    """
    w = Window.partitionBy("__cps_fp").orderBy(F.col(id_col).asc())
    return (df.withColumn("__cps_fp", fingerprint(text_col))
              .withColumn("__cps_rn", F.row_number().over(w))
              .filter(F.col("__cps_rn") == 1)
              .drop("__cps_fp", "__cps_rn"))


def exact_dedup_survivors(df: SparkDF, text_col: str, id_col: str) -> SparkDF:
    """(fingerprint, survivor_id, n_copies) per distinct content —
    the dedup *report* rather than the deduped corpus."""
    return (df.withColumn("fp", fingerprint(text_col))
              .groupBy("fp")
              .agg(F.min(id_col).alias("survivor_id"),
                   F.count(F.lit(1)).alias("n_copies")))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join — no cross join)
# ---------------------------------------------------------------------------

def _auto_max_df(corpus_rows: int) -> int:
    """Corpus-size-derived stop-shingle cap: >1% of documents, with a
    floor of 100 (a df that tiny can't fan out — and it keeps
    small-corpus results bit-identical to the uncapped ones)."""
    import math

    return max(100, math.ceil(0.01 * corpus_rows))


def _lazy_auto_cap(inv: SparkDF, df: SparkDF, df_col: str) -> SparkDF:
    """Apply the ``"auto"`` stop-shingle cap WITHOUT an eager action:
    the corpus row count rides the plan as a broadcast 1-row aggregate
    (same pattern as TF-IDF's N), so building the frame stays lazy —
    r4 resolved "auto" via an eager ``df.count()`` at construction
    time even when the result was never materialized."""
    total = df.select(F.count(F.lit(1)).alias("__cps_total"))
    cap = F.greatest(F.lit(100).cast("bigint"),
                     F.ceil(F.lit(0.01) * F.col("__cps_total")))
    return (inv.crossJoin(F.broadcast(total))
               .filter(F.col(df_col) <= cap)
               .drop("__cps_total"))

def ngram_jaccard_pairs(
    df: SparkDF,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    use_chars: bool = False,
    k: int = 5,
    max_df: int | str | None = "auto",
) -> SparkDF:
    """All pairs (a < b) with Jaccard similarity of their distinct
    n-gram shingle sets >= threshold.

    EXACT algorithm, but scalable: explode distinct shingles into an
    inverted index, self-join on the shingle (only docs sharing >= 1
    shingle ever meet), count common shingles per pair, then
    ``jacc = common / (|A| + |B| - common)``. Shuffles are on shingle
    then on (a, b) — both well-distributed.

    ``max_df`` drops stop-shingles with document frequency > max_df
    from the inverted index BEFORE the self-join — the web-scale
    guard: the join emits Σ df(shingle)^2 rows, so one shingle shared
    by 1M docs alone fans out 10^12 pairs. Capping is conservative:
    shingle-set sizes stay uncapped, so ``common`` can only shrink
    and every reported jaccard is a lower bound — capped pairs are
    always a SUBSET of uncapped pairs at the same threshold
    (near-dups sharing mostly-rare shingles are unaffected).

    Default ``"auto"`` (r4: guard ON for the corpus-scale entry
    points) resolves to ``max(100, ceil(0.01 * corpus_rows))`` — the
    classic ">1% of documents = stop-gram" rule with a floor of 100
    so small corpora (and their oracles/tests) are never affected.
    Production pipelines with known hot n-grams should pass an
    absolute cap instead; ``None`` disables the guard entirely.
    WORD shingles only: char k-grams have near-corpus-wide df by
    construction (every document contains " the "), so a df cap would
    gut the similarity itself, not trim stop phrases — ``"auto"``
    resolves to None for ``use_chars=True``; pass an int to force.
    """
    base, inv = _shingle_index(df, text_col, id_col, n, use_chars, k,
                               max_df)
    out = _index_jaccard(inv, None, threshold)
    out._cps_persisted = [base]  # see release()
    return out


def _shingle_index(df: SparkDF, text_col: str, id_col: str, n: int,
                   use_chars: bool, k: int, max_df: int | str | None):
    """``(base, inv)`` of the exact n-gram Jaccard joins: ``base`` is
    the PERSISTED ``(doc, sh, sz)`` shingle table (the caller owns its
    release), ``inv`` the inverted index ``(doc, sz, shingle)`` with
    stop-shingles above ``max_df`` dropped."""
    from pyspark import StorageLevel

    if max_df == "auto" and use_chars:
        max_df = None  # char k-grams: df cap would gut the similarity
    # persist the shingle ARRAYS before fanning out: sz and the explode
    # both reference ``sh``, and CollapseProject would inline the whole
    # shingle transform into each (2x the normalize+transform per row
    # — r4: this, not join fan-out, was most of the 69 s sf1
    # contamination probe).
    base = (shingle_table(df, text_col, id_col, k, use_chars, n)
            .withColumn("sz", F.size("sh"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    inv = base.select("doc", "sz", F.explode("sh").alias("shingle"))
    if max_df is not None:
        # df computed with a window over shingle (NOT a groupBy +
        # self-join back: joining the index with a derivative of
        # itself trips Spark's ambiguous-self-join resolution). The
        # window shuffles on shingle — the exact partitioning the
        # index join needs anyway.
        w = Window.partitionBy("shingle")
        inv = inv.withColumn("__cps_df", F.count(F.lit(1)).over(w))
        if max_df == "auto":
            # lazy: the 1%-of-corpus cap is resolved in-plan, not via
            # an eager count at construction time (r5 contract fix)
            inv = _lazy_auto_cap(inv, df, "__cps_df")
        else:
            inv = inv.filter(F.col("__cps_df") <= max_df)
        inv = inv.drop("__cps_df")
    return base, inv


def _index_jaccard(inv_a: SparkDF, inv_b: SparkDF | None,
                   threshold: float) -> SparkDF:
    """(doc_a, doc_b, jaccard >= threshold) from inverted indexes:
    within ``inv_a`` (``inv_b`` None) or across the two. The shared
    shingle count per pair comes out of the join's pair dedup.

    Never broadcast an inverted index: Catalyst's size estimate
    predates the explode, so the 64 MB broadcast threshold happily
    ships millions of (doc, shingle) rows to the driver (r4: 70 of
    the 80 s the sf1 contamination probe cost; a driver OOM on a
    cluster). The ``shuffle_hash`` hint keeps the join a shuffle on
    the shingle key and reuses the max_df window's partitioning.

    Lossless length band (AllPairs/PPJoin): J(A,B) >= t forces
    t*|A| <= |B| and t*|B| <= |A|, so size-incompatible pairs are cut
    on the join output, before the (a, b) aggregation shuffle.
    Integer form with T = floor(t * 1e6) keeps a (possibly strict)
    superset, so the final jaccard filter sees every qualifying
    pair."""
    t_micro = int(threshold * 1_000_000)

    def band(p):
        return p.where(
            (F.col("sz_b") * 1_000_000 >= F.col("sz_a") * t_micro)
            & (F.col("sz_a") * 1_000_000 >= F.col("sz_b") * t_micro))

    pairs = _blocked_pairs(inv_a, ["shingle"], carry=("sz",),
                           verify=band if threshold > 0 else None,
                           b=inv_b, hint="shuffle_hash", count="common")
    jacc = (F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
    return (pairs.withColumn("jaccard", F.floor(jacc * 10000) / 10000)
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))


def cross_corpus_pairs(
    df_a: SparkDF,
    df_b: SparkDF,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    use_chars: bool = False,
    k: int = 5,
    max_df: int | str | None = "auto",
) -> SparkDF:
    """Bipartite near-dup pairs BETWEEN two corpora (exact n-gram
    Jaccard): the decontamination primitive — find benchmark/eval
    documents leaked into a training corpus (or overlap between two
    crawls) without ever comparing within either side.

    Same inverted-index shape as ``ngram_jaccard_pairs`` but the join
    is a-side index vs b-side index, so cost is Σ df_a(s)*df_b(s) per
    shared shingle — strictly cheaper than pooling the corpora and
    filtering the self-join output. ``max_df`` caps each side's
    document frequency independently; ``"auto"`` (default, r4) picks
    ``max(100, ceil(0.01 * side_rows))`` per side — see
    ``ngram_jaccard_pairs`` for the subset-safety argument.

    The index-vs-index join carries an explicit ``shuffle_hash``
    hint: Catalyst's size estimate predates the explode, so it
    happily BROADCASTS a multi-million-row inverted index (r4: 70 of
    the 80 s the sf1 contamination probe used to cost; at real scale
    it's a driver OOM). A shuffle on the shingle key is the only
    join shape that survives two large corpora."""
    base_a, inv_a = _shingle_index(df_a, text_col, id_col, n, use_chars,
                                   k, max_df)
    base_b, inv_b = _shingle_index(df_b, text_col, id_col, n, use_chars,
                                   k, max_df)
    out = _index_jaccard(inv_a, inv_b, threshold)
    out._cps_persisted = [base_a, base_b]  # see release()
    return out


def dedup_corpus(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n: int = 3,
    use_chars: bool = False,
    k: int = 5,
) -> SparkDF:
    """The end-to-end near-dup dedup a training pipeline actually
    runs: find all pairs above the Jaccard threshold (exact,
    inverted-index), then keep the lower-id member of every pair
    (greedy survivor rule — deterministic; chains collapse toward the
    lowest id). Returns the deduplicated corpus rows."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, n, threshold,
                                use_chars, k)
    losers = pairs.select(F.col("doc_b").alias("__cps_loser")).distinct()
    return df.join(losers, df[id_col] == F.col("__cps_loser"),
                   "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Mersenne prime field for universal hashing: each shingle is hashed
#: ONCE (md5/xxhash), then the j-th minhash derives arithmetically as
#: (a_j * h + b_j) mod P — no per-seed rehash. a_j < P and h < P keep
#: the product under 2^62 (ANSI-overflow-safe in both engines).
MINHASH_P = (1 << 31) - 1


def minhash_params(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) universal-hash coefficients."""
    a = (j * 2654435761 + 12345) % MINHASH_P
    if a == 0:
        a = 1
    b = (j * 40503 + 7) % MINHASH_P
    return a, b


def shingle_table(df: SparkDF, text_col: str, id_col: str,
                  k: int = 5, use_chars: bool = True, n: int = 3) -> SparkDF:
    """(doc, sh: array<string>) shingle table, built in two phases
    around the ``spread`` exchange:

    1. BELOW the exchange: normalize the text (regexp) — materialized
       into the shuffle payload.
    2. ABOVE it: build shingles from the *bound* normalized column.

    The phase split is load-bearing: higher-order-function lambdas
    re-evaluate any referenced expression PER ARRAY ELEMENT, so
    inlining ``normalize_text`` into the transform would run the
    regexp ~len(text) times per row (measured 10x slowdown); the
    exchange is a CollapseProject barrier that pins the normalize to
    one evaluation per row. For word shingles the SPLIT array is what
    must be pinned below the exchange (r4: referencing
    ``split(norm, ' ')`` as an expression inside the transform re-ran
    the split once per shingle — the same pitfall one level up).
    ``use_chars``: char k-shingles (robust to small edits) vs word
    n-grams (~10x fewer shingles on prose)."""
    if use_chars:
        normed = spread(df.select(
            F.col(id_col).alias("doc"),
            normalize_text(text_col).alias("__cps_norm")))
        c = F.col("__cps_norm")
        idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1),
                                              F.lit(1)))
        sh = F.array_distinct(
            F.transform(idx, lambda i: F.substring(c, i, k)))
    else:
        normed = spread(df.select(
            F.col(id_col).alias("doc"),
            F.split(normalize_text(text_col), " ").alias("__cps_words")))
        words = F.col("__cps_words")
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n,
                                              F.lit(0)))
        sh = F.array_distinct(F.transform(
            idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")))
    return normed.select("doc", sh.alias("sh"))


def _signatures_from_shingles(sh_df: SparkDF, num_hashes: int,
                              hash_fn: str) -> SparkDF:
    ex = sh_df.select("doc", F.explode("sh").alias("s"))
    hashed = ex.select(
        "doc", (hash64(F.col("s"), 0, hash_fn) % MINHASH_P).alias("h"))
    mins = []
    for j in range(num_hashes):
        a, b = minhash_params(j)
        mins.append(F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P)
                    .alias(f"m{j}"))
    return hashed.groupBy("doc").agg(*mins)


def minhash_signatures(
    df: SparkDF,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    k: int = 5,
    hash_fn: str = "xxhash64",
    use_chars: bool = True,
    n: int = 3,
) -> SparkDF:
    """(doc, m0..m{H-1}) minhash signature per document.

    Shape chosen for scale AND to defeat CollapseProject re-evaluation:
    explode shingles -> hash each ONCE -> single groupBy(doc) with H
    conditional mins (map-side partial aggregation). One shuffle on
    doc id; md5/xxhash cost is O(total shingles), not O(H x shingles).
    The H minhashes derive from the one base hash by universal hashing
    in the Mersenne field (MINHASH_P).
    """
    return _signatures_from_shingles(
        shingle_table(df, text_col, id_col, k, use_chars, n),
        num_hashes, hash_fn)


def lsh_candidate_pairs(
    df: SparkDF,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "xxhash64",
    use_chars: bool = True,
    n: int = 3,
) -> SparkDF:
    """Candidate near-dup pairs: split the signature into ``bands``
    equal rows-per-band chunks; docs agreeing on any full band meet in
    a bucket join. Classic (b, r) S-curve selectivity."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k,
                             hash_fn, use_chars, n)
    return _candidates_from_signatures(sig, num_hashes, bands)


def _band_keys(sig: SparkDF, num_hashes: int, bands: int) -> SparkDF:
    """(doc, band_idx, band_key): one row per (doc, band) — the band
    keys of the batch LSH candidates and of the banded index alike.

    ``band_key`` is an INT64 ``xxhash64`` of the band's minhash tuple
    (r18; guide §2.3 "narrower types"), not the former 32-char md5
    hex string: every downstream use — the index's on-disk band
    column, the bloom words, the band-equality join — keys on it, so
    the long halves-plus the key bytes on every exchange and write
    and drops two md5 evaluations per band row (the hex digest and
    the md5-derived bucket). Candidate-set identity: two docs share a
    band iff their r minhash values are equal, and any injective
    re-keying preserves that exactly; a 64-bit collision can only ADD
    a candidate, which the exact-Jaccard verify filters — output
    unchanged algebraically. The DuckDB oracle keys bands on an md5
    of the tuple instead: it replays band-TUPLE equality, not the
    hash, so the engine's key encoding is invisible to it."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    band_keys = [
        F.xxhash64(*[F.col(f"m{b * r + i}") for i in range(r)])
         .alias(f"bk{b}")
        for b in range(bands)
    ]
    return sig.select("doc", F.posexplode(F.array(*band_keys))
                      .alias("band_idx", "band_key"))


def _candidates_from_signatures(sig: SparkDF, num_hashes: int,
                                bands: int) -> SparkDF:
    return _blocked_pairs(_band_keys(sig, num_hashes, bands),
                          ["band_idx", "band_key"])


def _array_jaccard(x: str, y: str) -> Column:
    """Set Jaccard of two shingle-array columns, floored to 1e-4."""
    inter = F.size(F.array_intersect(x, y))
    union = F.size(F.array_union(x, y))
    return F.floor(inter.cast("double") / union * 10000) / 10000


def minhash_near_dup(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "xxhash64",
    use_chars: bool = True,
    n: int = 3,
) -> SparkDF:
    """LSH candidates -> signature-agreement prefilter -> EXACT Jaccard
    verify.

    Three-stage funnel so each stage only pays for the previous one's
    survivors: (1) band bucket join emits candidate id pairs; (2) the
    already-computed signatures estimate similarity as the fraction of
    agreeing minhashes, discarding candidates below
    ``threshold - est_slack`` with two cheap broadcast joins; (3) only
    the survivors pay the exact ``array_intersect`` set Jaccard. The
    shingle arrays and the signature groupBy both sit behind exchanges,
    so Spark's ReusedExchange materializes each once for all branches.
    """
    est_slack = 0.2
    from pyspark import StorageLevel

    # sh and sig each feed 2-3 plan branches; persist so the expensive
    # shingle/hash computation runs once (MEMORY_AND_DISK: spills
    # instead of OOM at scale; size = O(corpus shingles) resp.
    # O(docs x H) — both bounded and far smaller than a recompute).
    sh = shingle_table(df, text_col, id_col, k, use_chars, n) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig = _signatures_from_shingles(sh, num_hashes, hash_fn) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cands = _candidates_from_signatures(sig, num_hashes, bands)

    sig_a = sig.select(F.col("doc").alias("doc_a"),
                       *[F.col(f"m{j}").alias(f"a{j}")
                         for j in range(num_hashes)])
    sig_b = sig.select(F.col("doc").alias("doc_b"),
                       *[F.col(f"m{j}").alias(f"b{j}")
                         for j in range(num_hashes)])
    est = sum(F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
              for j in range(num_hashes)) / F.lit(float(num_hashes))
    pre = (cands.join(sig_a, "doc_a").join(sig_b, "doc_b")
                .filter(est >= threshold - est_slack)
                .select("doc_a", "doc_b"))

    joined = (pre
              .join(sh.withColumnsRenamed({"doc": "doc_a", "sh": "sh_a"}),
                    "doc_a")
              .join(sh.withColumnsRenamed({"doc": "doc_b", "sh": "sh_b"}),
                    "doc_b"))
    out = (joined.withColumn("jaccard", _array_jaccard("sh_a", "sh_b"))
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))
    out._cps_persisted = [sh, sig]  # see release()
    return out


# ---------------------------------------------------------------------------
# connected components (near-dup pairs -> dedup clusters)
# ---------------------------------------------------------------------------

def connected_components(edges: SparkDF, src: str, dst: str,
                         max_iter: int = 20) -> SparkDF:
    """(vertex, component) labeling by iterative min-label
    propagation: every vertex repeatedly adopts the minimum label in
    its neighborhood until a fixed point.

    Scale design (r10 rewrite — the r9 shape cost 3 shuffles + 2 jobs
    per round and read 5.5 s on a 256-edge sf0.1 graph, pure
    fixed overhead): self-loops are appended to the symmetrized edge
    list ONCE, so "min over neighborhood including myself" is a
    single join + groupBy per round — no second labels join — and the
    same aggregation carries ``min(label of self-edges)`` out as the
    vertex's OLD label, so the convergence probe is a shuffle-free
    ``filter(chg).count()`` over the just-checkpointed round output
    instead of a third shuffle join. Per round: 1 shuffle join + 1
    aggregation exchange + 1 cheap scan job. The driver only runs the
    O(diameter) loop and reads one scalar per round; near-dup graphs
    have tiny diameters (dup clusters are near-cliques), so 3-5
    rounds is typical; ``max_iter`` bounds pathological chains. Each
    round is ``localCheckpoint``-ed: the lineage is CUT per round
    (without it the logical plan doubles every iteration — measured
    ~900 exchanges in the final plan after 4 rounds). On a
    fault-tolerant cluster job, switch to a reliable ``checkpoint``
    dir: localCheckpoint trades executor-loss recovery for speed.
    """
    from pyspark import StorageLevel

    one_way = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
                   .localCheckpoint()  # eager: edge producer runs ONCE
    # The upstream edge producer is typically the whole near-dup pair
    # pipeline; every downstream fan-out (swap leg, self-loop leg,
    # per-round join) must read a materialized copy, not the lineage —
    # Spark submits independent union legs as parallel stages, and a
    # lazily-persisted upstream gets computed once per leg in that
    # first job (measured: the pairs pipeline ran 2x inside the first
    # CC job at sf0.1).
    sym0 = one_way.union(one_way.select(F.col("b").alias("a"),
                                        F.col("a").alias("b")))
    # self-loops fold the "keep my own label" leg into the SAME
    # neighborhood-min aggregation (no labels left-join per round);
    # is_self lets that aggregation also emit the old label so the
    # driver's convergence probe never re-joins old vs new.
    verts = sym0.select(F.col("a")).distinct()
    sym = (sym0.withColumn("is_self", F.lit(False))
               .union(verts.select("a", F.col("a").alias("b"))
                           .withColumn("is_self", F.lit(True)))
               .persist(StorageLevel.MEMORY_AND_DISK))
    labels = (sym.filter("is_self")
                 .select(F.col("a").alias("v"), F.col("a").alias("lbl"))
                 .localCheckpoint())
    changed = 0  # max_iter <= 0 must hit the for/else warn, not NameError
    for _ in range(max_iter):
        new_labels = (
            sym.join(labels.select(F.col("v").alias("b"),
                                   F.col("lbl").alias("b_lbl")), "b")
               .groupBy(F.col("a").alias("v"))
               .agg(F.min("b_lbl").alias("lbl"),
                    F.min(F.when(F.col("is_self"), F.col("b_lbl")))
                     .alias("old_lbl"))
               .withColumn("chg", F.col("lbl") < F.col("old_lbl"))
               .localCheckpoint())
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("v", "lbl")
        if changed == 0:
            break
    else:
        # min-label propagation needs O(diameter) rounds; exhausting
        # max_iter with labels still moving means the returned
        # components silently under-merge — surface it.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); returned "
            f"components may be split — raise max_iter",
            RuntimeWarning, stacklevel=2)
    sym.unpersist()
    return labels.select("v", F.col("lbl").alias("component"))


def dedup_clusters(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n: int = 3,
    use_chars: bool = False,
    k: int = 5,
) -> SparkDF:
    """(doc, cluster) for EVERY document: near-dup pairs (exact n-gram
    Jaccard via the inverted index) become edges, connected components
    merge transitive chains (a~b, b~c => one cluster even when a!~c),
    and untouched documents form singleton clusters. The canonical
    keep-one-per-cluster dedup keeps ``doc == cluster`` rows."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, n, threshold,
                                use_chars, k)
    comp = connected_components(pairs, "doc_a", "doc_b")
    docs = df.select(F.col(id_col).alias("doc"))
    out = (docs.join(comp, comp.v == docs.doc, "left")
               .select("doc",
                       F.coalesce("component", "doc").alias("cluster")))
    # keep the shingle table's persisted handle reachable so callers
    # can free it via release(out) — dropping it here would leak the
    # pinned blocks in long-lived sessions
    out._cps_persisted = getattr(pairs, "_cps_persisted", ())
    return out

def simhash(
    df: SparkDF,
    text_col: str,
    id_col: str,
    bits: int = 48,
    hash_fn: str = "xxhash64",
) -> SparkDF:
    """Per-document SimHash: hash each whitespace token of the
    normalized text to 64 bits, take a per-bit majority vote over the
    token multiset, assemble the sign vector into a ``bits``-wide
    integer. Near-dup docs land within small Hamming distance.

    Implemented as explode -> single groupBy with ``bits`` conditional
    sums — one shuffle, map-side partial aggregation, no UDF.
    """
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in 1..62 (signed-long safe)")
    toks = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"))
    toks = toks.filter(F.col("tok") != "").withColumn(
        "h", hash64(F.col("tok"), 0, hash_fn))
    votes = [
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc").agg(*votes)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc", sig.cast("bigint").alias("simhash"))


def simhash_near_dup(
    df: SparkDF,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 48,
    block_bits: int = 12,
    hash_fn: str = "xxhash64",
) -> SparkDF:
    """Near-dup pairs by SimHash Hamming distance, using the
    pigeonhole block trick: split the signature into
    ``bits/block_bits`` blocks; any pair within ``max_hamming`` must
    agree exactly on >= 1 block (when blocks > max_hamming), so
    bucket-join on block value instead of cross-joining."""
    return _hamming_pairs(simhash(df, text_col, id_col, bits, hash_fn),
                          [("simhash", bits)], block_bits, max_hamming)


def _hamming_pairs(sig: SparkDF, words: list[tuple[str, int]],
                   block_bits: int, max_hamming: int) -> SparkDF:
    """(doc_a, doc_b, hamming) for the pairs of signature rows
    ``(doc, *words)`` within ``max_hamming`` bits, by the pigeonhole
    block trick: every ``(word, width)`` splits into ``width //
    block_bits`` blocks, and a pair within ``max_hamming`` bits agrees
    exactly on >= 1 block when there are more blocks than
    ``max_hamming``, so candidates come from a join on
    (block_idx, block_val), never all pairs. The XOR popcount verify
    runs on the join output, before the pair dedup (r18): the dedup
    exchange carries only passing pairs. Shared by SimHash text and
    dHash image near-dup."""
    from functools import reduce
    from operator import add

    from pyspark import StorageLevel

    if sum(width // block_bits for _, width in words) <= max_hamming:
        raise ValueError("need more blocks than max_hamming for the "
                         "pigeonhole guarantee")
    # the signature pipeline feeds BOTH sides of the self-join; without
    # a pin it is recomputed per branch (measured 7.1 s vs 1.6 s for
    # the simhash signatures alone at sf0.1)
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    names = tuple(w for w, _ in words)
    mask = (1 << block_bits) - 1
    blocks = sig.select(
        "doc", *names,
        F.posexplode(F.array(*[
            F.shiftright(w, i * block_bits).bitwiseAND(F.lit(mask))
            for w, width in words for i in range(width // block_bits)
        ])).alias("block_idx", "block_val")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    ham = reduce(add, [F.bit_count(F.col(f"{w}_a").bitwiseXOR(
        F.col(f"{w}_b"))) for w in names]).cast("int")
    out = _blocked_pairs(
        blocks, ["block_idx", "block_val"], carry=names,
        verify=lambda p: (p.select("doc_a", "doc_b", ham.alias("hamming"))
                           .filter(F.col("hamming") <= max_hamming)))
    out._cps_persisted = [sig, blocks]  # see release()
    return out


# ---------------------------------------------------------------------------
# line-level boilerplate dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------

def line_dedup(
    df: SparkDF,
    text_col: str,
    id_col: str,
    max_doc_freq: int = 2,
    line_sep: str = "\n",
    broadcast_boilerplate: bool = True,
) -> SparkDF:
    """Remove boilerplate lines — lines whose normalized form appears
    in >= ``max_doc_freq`` DISTINCT documents — and reassemble each
    document from its surviving lines (CCNet's paragraph dedup /
    RefinedWeb's line-level filtering; headers, nav bars, cookie
    banners all die here).

    Per document: (doc, text, n_lines, n_dropped) where ``text`` is
    the surviving lines joined by ``line_sep`` in original order
    ('' when every line was boilerplate — the doc row is kept so the
    caller can drop or count hollowed-out docs). Blank lines are
    exempt from frequency counting and always survive.

    Scale: two unavoidable shuffles — the exploded lines groupBy
    normalized line for document frequency, and the per-doc
    reassembly groupBy. The df>= cap side (true boilerplate) is a
    tiny fraction of distinct lines, so it rejoins the corpus as a
    broadcast LEFT join (set ``broadcast_boilerplate=False`` on
    corpora where even the boilerplate set is huge — same plan, hash
    join instead). Reassembly is collect_list of (pos, line) structs
    + array_sort — no window, no global sort; per-doc line counts
    bound the struct arrays exactly like the source documents bound
    memory.
    """
    import re as _re

    from pyspark import StorageLevel

    doc = F.col(id_col).alias("doc")
    lines = (df.select(doc,
                       F.posexplode(F.split(F.col(text_col),
                                            _re.escape(line_sep), -1))
                        .alias("pos", "line"))
               .withColumn("__cps_key", F.trim(F.lower("line")))
               # BOTH consumers (the line-df aggregate and the rejoin)
               # read this subtree; without the pin the scan+explode
               # runs twice over the corpus (plan-audited: 2 scans,
               # 2 Generates). Call release() after the action.
               .persist(StorageLevel.MEMORY_AND_DISK))
    boiler = (lines.where(F.col("__cps_key") != "")
                   .groupBy("__cps_key")
                   .agg(F.count_distinct("doc").alias("__cps_df"))
                   .where(F.col("__cps_df") >= max_doc_freq)
                   .select("__cps_key", F.lit(True).alias("__cps_drop")))
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    marked = lines.join(boiler, "__cps_key", "left")
    kept_struct = F.when(F.col("__cps_drop").isNull(),
                         F.struct("pos", "line"))
    out = (marked.groupBy("doc")
                 .agg(F.coalesce(
                          F.array_join(
                              F.transform(
                                  F.array_sort(F.collect_list(kept_struct)),
                                  lambda s: s["line"]),
                              line_sep),
                          F.lit("")).alias("text"),
                      F.count(F.lit(1)).alias("n_lines"),
                      F.sum(F.when(F.col("__cps_drop").isNotNull(), 1)
                             .otherwise(0)).cast("bigint")
                       .alias("n_dropped")))
    out._cps_persisted = [lines]  # see release()
    return out


def line_dedup_sql(t: str, id_expr: str, text_expr: str,
                   max_doc_freq: int = 2, sep_chr: str = "chr(10)") -> str:
    """DuckDB twin of :func:`line_dedup` (same normalization, same
    blank-line exemption, same keep-order reassembly)."""
    return f"""
        WITH base AS (
            SELECT {id_expr} AS doc,
                   string_split({text_expr}, {sep_chr}) AS ls
            FROM {t}),
        ln AS (
            SELECT doc, ls, UNNEST(range(1, len(ls) + 1)) AS pos
            FROM base),
        lx AS (
            SELECT doc, CAST(pos AS INT) AS pos, ls[pos] AS line,
                   trim(lower(ls[pos])) AS key
            FROM ln),
        boiler AS (
            SELECT key FROM lx WHERE key <> ''
            GROUP BY key HAVING count(DISTINCT doc) >= {max_doc_freq}),
        marked AS (
            SELECT lx.doc, lx.pos, lx.line,
                   (b.key IS NOT NULL) AS dropped
            FROM lx LEFT JOIN boiler b USING (key))
        SELECT doc,
               coalesce(string_agg(line, {sep_chr} ORDER BY pos)
                            FILTER (WHERE NOT dropped), '') AS text,
               count(*) AS n_lines,
               CAST(coalesce(sum(CASE WHEN dropped THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_dropped
        FROM marked
        GROUP BY doc
    """


# ---------------------------------------------------------------------------
# duplicated-span profiling (exact substring dedup, Lee et al. style)
# ---------------------------------------------------------------------------

def duplicate_spans(
    df: SparkDF,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> SparkDF:
    """Per-document DUPLICATED-SPAN profile: the fraction of a
    document's k-token spans (rolling windows, stride 1) that also
    appear verbatim in >= ``min_docs`` distinct documents — the
    "Deduplicating Training Data Makes Language Models Better"
    signal, as a profile a curation pipeline can threshold on (docs
    that are mostly recycled spans get cut even when no WHOLE
    document is a near-duplicate).

    Output: (doc, n_spans, n_dup_spans, dup_frac). Documents shorter
    than k tokens contribute one truncated span.

    Scale: spans are scan-local HOF expressions (no UDF); the pinned
    exploded-spans subtree feeds both the span document-frequency
    aggregate and the rejoin (same one-materialization contract as
    :func:`line_dedup`); the duplicated-span set joins back under a
    SHUFFLE_HASH hint (it is corpus-sized in the worst case — never
    broadcast). Two shuffles total. Call ``release()`` after the
    action.
    """
    from pyspark import StorageLevel

    words = F.split(normalize_text(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    span_arr = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    spans = (df.select(F.col(id_col).alias("doc"),
                       F.explode(span_arr).alias("span"))
               .persist(StorageLevel.MEMORY_AND_DISK))
    dup = (spans.groupBy("span")
                .agg(F.count_distinct("doc").alias("__cps_nd"))
                .where(F.col("__cps_nd") >= min_docs)
                .select("span", F.lit(True).alias("__cps_dup")))
    marked = spans.join(dup.hint("shuffle_hash"), "span", "left")
    ndup = F.sum(F.when(F.col("__cps_dup").isNotNull(), 1).otherwise(0))
    out = (marked.groupBy("doc")
                 .agg(F.count(F.lit(1)).alias("n_spans"),
                      ndup.cast("bigint").alias("n_dup_spans"))
                 .withColumn("dup_frac",
                             F.floor(F.lit(1_000_000)
                                     * F.col("n_dup_spans")
                                     / F.col("n_spans")) / 1_000_000))
    out._cps_persisted = [spans]  # see release()
    return out


def duplicate_spans_sql(t: str, id_expr: str, text_expr: str,
                        k: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin of :func:`duplicate_spans` (same span geometry,
    same truncated-tail behavior, exact int/int division)."""
    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    return f"""
        WITH w AS (
            SELECT {id_expr} AS doc, string_split({norm}, ' ') AS words
            FROM {t}),
        sp AS (
            SELECT doc,
                   UNNEST(list_transform(
                       range(0, greatest(len(words) - {k}, 0) + 1),
                       i -> array_to_string(
                           list_slice(words, CAST(i + 1 AS INT),
                                      CAST(i + {k} AS INT)), ' ')))
                       AS span
            FROM w),
        d AS (
            SELECT span FROM sp
            GROUP BY span HAVING count(DISTINCT doc) >= {min_docs}),
        m AS (
            SELECT sp.doc, (d.span IS NOT NULL) AS dup
            FROM sp LEFT JOIN d USING (span))
        SELECT doc, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               FLOOR(1000000 * CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END)
                                    AS DOUBLE) / count(*)) / 1000000
                   AS dup_frac
        FROM m GROUP BY doc
    """


def remove_duplicate_spans(
    df: SparkDF,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> SparkDF:
    """Exact-substring span REMOVAL (the transform half of Lee et al.
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr; the reference pipeline's span profile
    :func:`duplicate_spans` is the read-only half): every k-token
    span that appears verbatim in >= ``min_docs`` DISTINCT documents
    is CUT from the corpus except its first occurrence, and each
    document is reassembled from its surviving tokens in original
    order.

    Semantics (deterministic, both engines):

    - span geometry is exactly :func:`duplicate_spans`: normalized
      words, rolling k-token windows stride 1, one truncated span for
      docs shorter than k tokens;
    - "first occurrence" = the minimum ``(doc, pos)`` over ALL
      occurrences of the span (lexicographic; later occurrences
      inside the first doc itself are removed too);
    - a non-first occurrence at position ``p`` removes the tokens it
      covers, ``[p, min(p+k, n_tokens) - 1]``. A token survives iff
      NO removed occurrence covers it — so the kept-first occurrence
      of one span can still lose tokens to an overlapping removed
      occurrence of a DIFFERENT span (coverage semantics, the way
      ExactSubstr cuts byte ranges).

    Output: ``(doc, text, n_tokens, n_removed)`` — ``text`` is the
    surviving tokens joined by single spaces ('' when everything was
    cut; the row is kept so callers can drop hollowed-out docs),
    ``n_tokens`` the pre-removal token count, ``n_removed`` how many
    tokens were cut.

    Scale: three shuffles — the span document-frequency aggregate
    (with map-side combine; ``min(struct(doc, pos))`` rides the same
    aggregate, no window), the duplicated-span rejoin under
    SHUFFLE_HASH (corpus-sized worst case — never broadcast), and the
    per-doc reassembly groupBy. Covered-token expansion explodes only
    REMOVED occurrences (k rows each), not the corpus. The pinned
    span subtree feeds both the aggregate and the rejoin; call
    ``release()`` after the action.
    """
    from pyspark import StorageLevel

    words = F.split(normalize_text(text_col), " ")
    base = (df.select(F.col(id_col).alias("doc"), words.alias("__cps_w"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    idx = F.sequence(F.lit(0),
                     F.greatest(F.size("__cps_w") - k, F.lit(0)))
    span_arr = F.transform(
        idx, lambda i: F.array_join(F.slice("__cps_w", i + 1, k), " "))
    spans = (base.select("doc", F.size("__cps_w").alias("__cps_n"),
                         F.posexplode(span_arr).alias("pos", "span"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    dup = (spans.groupBy("span")
                .agg(F.count_distinct("doc").alias("__cps_nd"),
                     F.min(F.struct("doc", "pos")).alias("__cps_first"))
                .where(F.col("__cps_nd") >= min_docs)
                .select("span",
                        F.col("__cps_first.doc").alias("__cps_fdoc"),
                        F.col("__cps_first.pos").alias("__cps_fpos")))
    removed = (spans.join(dup.hint("shuffle_hash"), "span")
                    .where(~((F.col("doc") == F.col("__cps_fdoc"))
                             & (F.col("pos") == F.col("__cps_fpos"))))
                    .select("doc", "pos", "__cps_n"))
    covered = (removed.select(
                   "doc",
                   F.explode(F.sequence(
                       F.col("pos"),
                       F.least(F.col("pos") + (k - 1),
                               F.col("__cps_n") - 1))).alias("tp"))
                      .distinct()
                      .withColumn("__cps_rm", F.lit(True)))
    tokens = base.select("doc",
                         F.posexplode("__cps_w").alias("tp", "word"))
    kept_struct = F.when(F.col("__cps_rm").isNull(),
                         F.struct("tp", "word"))
    out = (tokens.join(covered.hint("shuffle_hash"), ["doc", "tp"],
                       "left")
                 .groupBy("doc")
                 .agg(F.coalesce(
                          F.array_join(
                              F.transform(
                                  F.array_sort(
                                      F.collect_list(kept_struct)),
                                  lambda s: s["word"]),
                              " "),
                          F.lit("")).alias("text"),
                      F.count(F.lit(1)).alias("n_tokens"),
                      F.sum(F.when(F.col("__cps_rm").isNotNull(), 1)
                             .otherwise(0)).cast("bigint")
                       .alias("n_removed")))
    out._cps_persisted = [base, spans]  # see release()
    return out


def remove_duplicate_spans_sql(t: str, id_expr: str, text_expr: str,
                               k: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin of :func:`remove_duplicate_spans` — same span
    geometry, same lexicographic ``min(doc, pos)`` keep-first rule,
    same token-coverage removal and in-order reassembly."""
    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    return f"""
        WITH w AS (
            SELECT {id_expr} AS doc, string_split({norm}, ' ') AS words
            FROM {t}),
        si AS (
            SELECT doc, words, len(words) AS n,
                   UNNEST(range(0, greatest(len(words) - {k}, 0) + 1))
                       AS i
            FROM w),
        sp AS (
            SELECT doc, n, CAST(i AS INT) AS pos,
                   array_to_string(
                       list_slice(words, CAST(i + 1 AS INT),
                                  CAST(i + {k} AS INT)), ' ') AS span
            FROM si),
        dup AS (
            SELECT span,
                   min(struct_pack(d := doc, p := pos)) AS first
            FROM sp
            GROUP BY span HAVING count(DISTINCT doc) >= {min_docs}),
        rem AS (
            SELECT sp.doc, sp.pos, sp.n
            FROM sp JOIN dup USING (span)
            WHERE NOT (sp.doc = dup.first.d AND sp.pos = dup.first.p)),
        covx AS (
            SELECT doc,
                   UNNEST(range(pos, least(pos + {k}, n))) AS tp
            FROM rem),
        cov AS (SELECT DISTINCT doc, CAST(tp AS INT) AS tp FROM covx),
        tok AS (
            SELECT doc, UNNEST(words) AS word,
                   UNNEST(range(0, len(words))) AS tp
            FROM w),
        m AS (
            SELECT t2.doc, CAST(t2.tp AS INT) AS tp, t2.word,
                   (c.tp IS NOT NULL) AS rm
            FROM tok t2 LEFT JOIN cov c
              ON c.doc = t2.doc AND c.tp = t2.tp)
        SELECT doc,
               coalesce(string_agg(word, ' ' ORDER BY tp)
                            FILTER (WHERE NOT rm), '') AS text,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(coalesce(sum(CASE WHEN rm THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_removed
        FROM m GROUP BY doc
    """


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------

def _jaccard_prefix_parts(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int | None,
    length_filter: bool,
    positional_filter: bool,
):
    """Shared candidate stage of the prefix-filtered AllPairs join:
    returns ``(terms, cand)`` with ``terms`` PERSISTED (the caller
    owns release) and ``cand`` carrying the two set sizes as
    ``sz_a``/``sz_b`` (functionally dependent on the pair, so the
    distinct's cardinality is unchanged — r17: riding them through
    the candidate join removes the separate per-doc sizes aggregate
    AND the two pair-keyed size joins the verify stage used to pay;
    the set size is computed in the SAME window exchange as the
    prefix rank). Candidates carry two additional LOSSLESS prunes
    from the published algorithms, both evaluated inside the
    candidate join (they cut the pair stream before the distinct and
    before any verification I/O):

    - length filter (Arasu/Bayardo): Jaccard >= t implies
      ``min(|a|,|b|) >= t * max(|a|,|b|)`` (intersection <= min,
      union >= max), so ``ceil(t*|a|) <= |b|`` and symmetric.
    - positional filter (Xiao et al. PPJoin): a shared prefix token
      at positions (i, j) bounds the overlap by
      ``1 + min(|a|-i, |b|-j)``; a true pair needs overlap >=
      ``ceil(t/(1+t) * (|a|+|b|))``. Applied per shared token with
      accumulated-overlap lower bound 1 (weaker than PPJoin's
      running count, hence still lossless), the pair survives if ANY
      shared prefix token passes."""
    from .text import word_shingles

    tok = (word_shingles(text_col, shingle_n) if shingle_n
           else F.array_distinct(F.split(normalize_text(text_col), " ")))
    terms = (df.select(F.col(id_col).alias("doc"),
                       F.explode(tok).alias("term"))
               .where(F.col("term") != "")
               .persist())
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc").orderBy(F.col("__df").asc(),
                                          F.col("term").asc())
    # sz rides the SAME doc-partitioned exchange as the prefix rank
    # (an unbounded-frame count adds a Window node, not a shuffle) —
    # replacing the old groupBy(doc) sizes aggregate + join
    ranked = (terms.join(dfreq.hint("shuffle_hash"), "term")
                   .withColumn("__rn", F.row_number().over(w))
                   .withColumn("sz", F.count(F.lit(1)).over(
                       Window.partitionBy("doc"))))
    prefix_len = (F.col("sz")
                  - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    prefix = ranked.where(F.col("__rn") <= prefix_len) \
                   .select("doc", "term", "sz", F.col("__rn").alias("rn"))
    conds = []
    if length_filter:
        conds += [F.ceil(F.lit(threshold) * F.col("sz_a"))
                  <= F.col("sz_b"),
                  F.ceil(F.lit(threshold) * F.col("sz_b"))
                  <= F.col("sz_a")]
    if positional_filter:
        # NB: this is the per-token accumulated-overlap-1 form, not
        # PPJoin's full pair-level filter (o_p shared prefix tokens +
        # min-suffix bound after the last one, via a groupBy(pair)
        # agg in place of the distinct). The full form was built and
        # measured in r12: on the token-suffixed 10-copy sf1
        # documents fixture (tests/conftest.py ``sf1_documents``) it
        # produced the IDENTICAL candidate set (687,250 pairs) while
        # paying four extra aggregates — near-dup text pairs that
        # share 2+ rare prefix shingles essentially never fail the
        # accumulated bound after passing the per-token ones. Keep
        # the cheaper form; revisit only with a fixture where
        # candidates share many prefix tokens at threshold-marginal
        # similarity.
        alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                       * (F.col("sz_a") + F.col("sz_b")))
        ubound = F.lit(1) + F.least(F.col("sz_a") - F.col("rn_a"),
                                    F.col("sz_b") - F.col("rn_b"))
        conds.append(ubound >= alpha)

    def prune(p):
        for c in conds:
            p = p.where(c)
        return p.select("doc_a", "doc_b", "sz_a", "sz_b")

    cand = _blocked_pairs(prefix, ["term"], carry=("sz", "rn"),
                          verify=prune)
    return terms, cand


def jaccard_prefix_candidates(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int | None = None,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> SparkDF:
    """The CANDIDATE pairs of :func:`jaccard_pairs_prefix` before
    exact verification — exposed so the filters' selectivity is
    observable (and pytest-witnessed: disabling a lossless filter
    may only ADD candidates, never change the verified output)."""
    terms, cand = _jaccard_prefix_parts(
        df, text_col, id_col, threshold, shingle_n,
        length_filter, positional_filter)
    cand = cand.select("doc_a", "doc_b")
    cand._cps_persisted = [terms]  # see release()
    return cand


def jaccard_pairs_prefix(
    df: SparkDF,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int | None = None,
) -> SparkDF:
    """All pairs with Jaccard similarity of their DISTINCT word sets
    >= ``threshold``, via PREFIX FILTERING (Bayardo et al. "Scaling
    Up All Pairs", Xiao et al. PPJoin — the published improvement
    over a plain inverted index): order every document's terms by
    ascending global document frequency (rarest first), index only
    the first ``|d| - ceil(t * |d|) + 1`` terms, and generate
    candidates only from docs sharing an INDEXED term. Any pair at
    similarity >= t must share a prefix token under a common total
    order, so the filter is lossless; the exact verify join then
    computes true Jaccard for candidates only. The candidate join
    additionally applies PPJoin's two lossless prunes — the length
    filter and the positional filter (see
    :func:`_jaccard_prefix_parts`) — inside the join condition, so
    the pruned pairs never reach the distinct or the verify stage.

    Why it beats the df-capped full index at scale: the full index
    posts every term of every doc (sum of |d|); the prefix index
    posts ~(1 - t) of that, and — decisive for skew — the most
    frequent terms land at the END of the order, so the hottest
    postings lists are mostly NOT indexed at all. At t = 0.8 the
    index (and its candidate fan-out) shrinks ~5x before any
    verification work happens.

    Shuffles: df agg, per-doc prefix window (keyed by doc —
    parallelism grows with docs; the set size is computed in the
    same exchange as the rank), prefix self-join on term, verify
    explode-joins keyed on doc + the pair groupBy (sizes ride the
    candidate rows — no pair-keyed size joins). Output:
    (doc_a, doc_b, jacc) with jacc floor-scaled (exact int/int
    division both engines).

    ``shingle_n`` switches the set elements from distinct words to
    distinct word n-grams — far more distinctive on small
    vocabularies and the usual choice for near-dup detection.
    """
    terms, cand = _jaccard_prefix_parts(
        df, text_col, id_col, threshold, shingle_n,
        length_filter=True, positional_filter=True)
    # verify via the exploded postings join (candidates ⋈ terms per
    # side, groupBy pair). TWO array-based alternatives were measured
    # and rejected: (a) collect each doc's term set once and
    # array_intersect per candidate — slower at sf0.1 (14-17 s vs
    # 10.4 s; building arrays for EVERY doc dominates when candidates
    # are sparse); (b, r12) arrays built only for docs APPEARING in a
    # candidate (semi-join first) — slower at sf1 too (32.3 s vs
    # 18.0 s same-host): array_intersect still needs both full term
    # arrays co-located per pair, so the shuffle moves the same
    # Σ_cand(|a|+|b|) strings as the exploded join but as wide
    # array rows (no partial aggregation, worse memory shape). The
    # exploded join's narrow rows partial-aggregate map-side and win
    # in both regimes.
    ta = terms.select(F.col("doc").alias("doc_a"),
                      F.col("term").alias("__ta"))
    tb = terms.select(F.col("doc").alias("doc_b"),
                      F.col("term").alias("__tb"))
    # the pair's set sizes ride cand (16 B/row on the exploded join —
    # cheaper at every scale than the two pair-keyed size joins this
    # stage used to pay; the explode shuffle is dominated by the
    # term strings either way)
    inter = (cand.join(ta, "doc_a")
                 .join(tb.withColumnRenamed("doc_b", "__db"),
                       on=[F.col("doc_b") == F.col("__db"),
                           F.col("__ta") == F.col("__tb")])
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("__inter"),
                      F.first("sz_a").alias("sz_a"),
                      F.first("sz_b").alias("sz_b")))
    out = (inter
           .withColumn("__j",
                       F.col("__inter").cast("double")
                       / (F.col("sz_a") + F.col("sz_b")
                          - F.col("__inter")).cast("double"))
           .where(F.col("__j") >= threshold)
           .select("doc_a", "doc_b",
                   (F.floor(F.col("__j") * 1_000_000) / 1_000_000)
                   .alias("jacc")))
    out._cps_persisted = [terms]  # see release()
    return out


def jaccard_pairs_prefix_sql(t: str, id_expr: str, text_expr: str,
                             threshold: float = 0.5,
                             shingle_n: int | None = None) -> str:
    """DuckDB twin: brute-force pairwise Jaccard over distinct word
    sets (the prefix filter is lossless, so the outputs are equal —
    which is exactly what the oracle proves)."""
    from .text import word_shingles_sql

    norm = (f"trim(regexp_replace(lower({text_expr}), "
            "'\\s+', ' ', 'g'))")
    tok = (word_shingles_sql(text_expr, shingle_n) if shingle_n
           else f"string_split({norm}, ' ')")
    return f"""
        WITH terms AS (
            SELECT DISTINCT {id_expr} AS doc,
                   UNNEST({tok}) AS term
            FROM {t}),
        tx AS (SELECT doc, term FROM terms WHERE term <> ''),
        sizes AS (SELECT doc, count(*) AS sz FROM tx GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b,
                   count(*) AS ovl
            FROM tx a JOIN tx b
              ON a.term = b.term AND a.doc < b.doc
            GROUP BY a.doc, b.doc)
        SELECT doc_a, doc_b,
               FLOOR(1000000 * CAST(ovl AS DOUBLE)
                     / (sa.sz + sb.sz - ovl)) / 1000000 AS jacc
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(ovl AS DOUBLE) / (sa.sz + sb.sz - ovl)
              >= {threshold}
    """


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap flagging)
# ---------------------------------------------------------------------------

def decontaminate(corpus: SparkDF, benchmark: SparkDF, text_col: str,
                  id_col: str, n: int = 13) -> SparkDF:
    """Per-corpus-document overlap against a benchmark/eval set's
    word n-grams — the GPT-3-style decontamination primitive (Brown
    et al. 2020 use 13-grams): ``(doc, n_ngrams, n_hits,
    hit_micro_frac)`` where ``n_hits`` counts the document's DISTINCT
    n-grams that appear anywhere in the benchmark and
    ``hit_micro_frac = floor(1e6 * n_hits / n_ngrams)`` (integer
    micro-units — exact across engines). Filter ``n_hits > 0`` (or a
    fraction threshold) to drop contaminated documents.

    Differs from :func:`cross_corpus_pairs` by shape and cost: no
    pairs, no Jaccard — the benchmark side collapses to a DISTINCT
    shingle set, the join is corpus-shingles LEFT JOIN that set on the
    shingle key, and the result aggregates straight back to one row
    per document. Cost is one explode + one shuffle-hash join + one
    groupBy — nothing quadratic anywhere, benchmark never broadcast
    (eval suites are small today, but a "benchmark" can be another
    crawl). Shingles shorter than ``n`` words still produce one
    whole-document gram (shingle_table's padding rule), so short docs
    are checked too, exactly like the Jaccard family."""
    cs = (shingle_table(corpus, text_col, id_col, use_chars=False, n=n)
          .select("doc", F.explode("sh").alias("s")))
    bs = (shingle_table(benchmark, text_col, id_col,
                        use_chars=False, n=n)
          .select(F.explode("sh").alias("s"))
          .distinct()
          .withColumn("__hit", F.lit(1)))
    return (cs.join(bs.hint("shuffle_hash"), "s", "left")
              .groupBy("doc")
              .agg(F.count(F.lit(1)).alias("n_ngrams"),
                   F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    .alias("n_hits"))
              .select("doc", "n_ngrams", "n_hits",
                      F.floor(F.col("n_hits") * F.lit(1_000_000)
                              / F.col("n_ngrams"))
                       .alias("hit_micro_frac")))


def decontaminate_sql(corpus_t: str, corpus_pred: str, bench_pred: str,
                      id_expr: str, text_expr: str, n: int = 13) -> str:
    """DuckDB twin of :func:`decontaminate` where corpus and benchmark
    are predicate-split halves of one table (how the registered query
    uses it)."""
    from .text import word_shingles_sql

    sh = word_shingles_sql(text_expr, n)
    return f"""
        WITH cs AS (
            SELECT {id_expr} AS doc, unnest({sh}) AS s
            FROM {corpus_t} WHERE {corpus_pred}),
        bs AS (
            SELECT DISTINCT unnest({sh}) AS s
            FROM {corpus_t} WHERE {bench_pred}),
        hits AS (
            SELECT cs.doc,
                   CASE WHEN bs.s IS NULL THEN 0 ELSE 1 END AS hit
            FROM cs LEFT JOIN bs ON cs.s = bs.s)
        SELECT doc, CAST(count(*) AS BIGINT) AS n_ngrams,
               CAST(sum(hit) AS BIGINT) AS n_hits,
               CAST(FLOOR(sum(hit) * 1000000.0 / count(*)) AS BIGINT)
                   AS hit_micro_frac
        FROM hits GROUP BY doc
    """


# ---------------------------------------------------------------------------
# incremental dedup against a persisted fingerprint index
# ---------------------------------------------------------------------------

def _index_meta_write(spark, path: str, meta: dict) -> None:
    """Persist the index's signing parameters as a one-row JSON
    sidecar at ``<path>/_cps_meta``. Underscore-prefixed children are
    hidden from Spark's parquet reader, so the sidecar rides INSIDE
    the index directory (same FS, same lifecycle — the Hadoop
    FileSystem API works on HDFS/S3A/local alike, so this is still
    not driver-local file I/O). Written directly through the
    FileSystem instead of a 1-row Spark ``.write.text()`` job: r13
    profiling measured that job at a flat 4-5 s PER CALL (committer
    overhead dwarfing the row) vs 0.03 s here — a fixed tax every
    index write, append and compaction was paying, and the single
    biggest addend in the dedup_incremental / minhash-index bench
    entries. ``spark.read.text`` reads the result identically."""
    import json

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    dir_p = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/_cps_meta")
    fs = dir_p.getFileSystem(hconf)
    fs.delete(dir_p, True)  # replace atomically-enough for a sidecar
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(dir_p, "part-00000"), True)
    out.write(bytearray(
        json.dumps(meta, sort_keys=True).encode() + b"\n"))
    out.close()


def _index_meta_read(spark, path: str) -> dict | None:
    """The stored parameter sidecar, or None for a legacy index."""
    import json

    try:
        rows = spark.read.text(path.rstrip("/") + "/_cps_meta").collect()
    except Exception:
        return None
    return json.loads(rows[0]["value"]) if rows else None


def _index_meta_check(spark, path: str, meta: dict,
                      stored: dict | None = None) -> None:
    """Assert the probe-side parameters equal the ones the index was
    written with (ADVICE r8: probing a banded index with different
    num_hashes/bands/k/... silently returns zero/garbage matches).
    A missing sidecar (pre-metadata index) is tolerated unless
    ``meta`` carries a ``format`` marker; a mismatch raises. Pass
    ``stored`` to check against an already-read sidecar (cache path)
    instead of re-reading it from disk."""
    if stored is None:
        stored = _index_meta_read(spark, path)
    if "format" in meta and (stored is not None
                             or _path_exists(spark, path)):
        found = (stored or {}).get("format")
        if found != meta["format"]:
            raise ValueError(
                "index at %r has format %r, this code reads format "
                "%r: rebuild it with minhash_index_write"
                % (path, found, meta["format"]))
    if stored is None:
        return  # legacy index without a sidecar
    diffs = {k: (stored[k], v) for k, v in meta.items()
             if k in stored and stored[k] != v}
    if diffs:
        raise ValueError(
            "index at %r was written with different parameters: %s"
            % (path, ", ".join(f"{k}: index={a!r} probe={b!r}"
                               for k, (a, b) in sorted(diffs.items()))))


def _path_exists(spark, path: str) -> bool:
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(jp.getFileSystem(spark._jsc.hadoopConfiguration())
                  .exists(jp))


def fingerprint_index_write(df: SparkDF, text_col: str, id_col: str,
                            path: str, num_buckets: int = 64,
                            mode: str = "overwrite") -> None:
    """Materialize the corpus's content fingerprints PARTITIONED BY a
    fingerprint-hash bucket — the persistent half of CONTINUOUS-
    INGESTION dedup. A daily/hourly batch then dedups against years of
    history by opening only the buckets its own fingerprints hash to
    (directory pruning, same layout pattern as ``postings_write`` /
    ``ivf_write``), instead of re-reading the historical corpus.

    One narrow (fp, doc) row per document; fingerprints are md5 of the
    normalized text (cross-engine exact), bucket = md5-derived hash
    mod ``num_buckets`` — computable client-side AND engine-side, so
    lookups prune at planning time with zero Spark jobs."""
    from .bloom import bloom_build, bloom_params
    from .text import fingerprint

    spark = df.sparkSession
    if mode == "append":
        _index_meta_check(spark, path,
                          {"kind": "fingerprint",
                           "num_buckets": num_buckets})
    from pyspark import StorageLevel

    fp = (df.select(fingerprint(text_col).alias("fp"),
                    F.col(id_col).alias("doc"))
            # pinned across the index write AND the bloom build —
            # without it the fingerprint scan ran twice plus a third
            # corpus pass for the bloom sizing count (r15, same fix
            # as minhash_index_write)
            .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        (fp.withColumn("bucket", (hash64(F.col("fp"), 0, "md5")
                                  % num_buckets + num_buckets)
                                 % num_buckets)
           .repartition("bucket")
           .write.mode(mode).partitionBy("bucket").parquet(path))
        # Bloom summary of the index's fingerprints, kept as
        # APPEND-ONLY word-table deltas under _cps_bloom (hidden from
        # the index's own parquet scan): probes OR-merge the deltas
        # (<= deltas * m/64 rows) and batches whose fingerprints all
        # probe negative skip the index scan entirely — see
        # dedup_incremental. Geometry is fixed at creation (stored in
        # the sidecar); appends past the design count degrade the FP
        # rate, never add false negatives.
        stored = (_index_meta_read(spark, path) or {}) \
            if mode == "append" else {}
        if "bloom_m" in stored:
            m_bits, k = stored["bloom_m"], stored["bloom_k"]
        else:  # one row per doc, so this count == df.count()
            m_bits, k = bloom_params(max(fp.count(), 1), 0.001)
        # one FILE per delta (repartition(1)): the word table is
        # <= m_bits/64 rows, and without it each delta lands as ~32
        # near-empty post-shuffle files the probe must open and list
        bloom_build(fp, "fp", m_bits, k).repartition(1) \
            .write.mode("append" if mode == "append" else "overwrite") \
            .parquet(path.rstrip("/") + "/_cps_bloom")
        _index_meta_write(spark, path,
                          {"kind": "fingerprint",
                           "num_buckets": num_buckets,
                           "bloom_m": m_bits, "bloom_k": k})
    finally:
        fp.unpersist()


def dedup_incremental(spark, batch: SparkDF, path: str, text_col: str,
                      id_col: str, num_buckets: int = 64,
                      append_survivors: bool = False) -> SparkDF:
    """Survivors of ``batch`` against the fingerprint index at
    ``path``: rows whose content is unseen BOTH in the index and
    earlier in the batch (keep-first by ascending id within each new
    fingerprint — ``exact_dedup``'s rule). Returns
    ``(doc, fp)``; with ``append_survivors`` the new fingerprints are
    appended to the index so the next batch sees them.

    Plan: batch fingerprints -> intra-batch keep-first (one groupBy)
    -> LEFT ANTI join against the index scan, which is restricted to
    the buckets the batch actually hashes into. For a small batch
    against a huge history that bucket predicate is the whole point:
    it lands in the scan's partition filters (pytest-witnessed), so
    I/O is proportional to the BATCH's bucket coverage, not the
    index size. The bucket list is collected client-side — bounded
    by ``num_buckets``, never by data.

    Two-tier (r9): when the index carries a ``_cps_bloom`` summary
    (written by :func:`fingerprint_index_write`), the batch probes
    it FIRST — bloom-negative fingerprints are definitely novel and
    bypass the index entirely; only bloom-positive rows open buckets
    and run the anti join. A no-overlap batch therefore reads ZERO
    index partitions. Same output either way (no false negatives;
    false positives just take the exact path)."""
    from .bloom import bloom_build, bloom_probe
    from .text import fingerprint

    _index_meta_check(spark, path,
                      {"kind": "fingerprint", "num_buckets": num_buckets})
    stored = _index_meta_read(spark, path) or {}
    bfp = batch.select(F.col(id_col).alias("doc"),
                       fingerprint(text_col).alias("fp"))
    first = (bfp.groupBy("fp").agg(F.min("doc").alias("doc"))
                .withColumn("bucket",
                            (hash64(F.col("fp"), 0, "md5")
                             % num_buckets + num_buckets) % num_buckets)
                .persist())
    persisted = [first]
    if "bloom_m" in stored:
        # two-tier probe: the Bloom summary (no false negatives)
        # routes DEFINITELY-unseen fingerprints straight to the
        # survivor set; only bloom-positive rows contribute buckets,
        # so a clean batch opens ZERO index partitions (and skips
        # the anti join entirely — pytest-witnessed).
        m_bits, k = stored["bloom_m"], stored["bloom_k"]
        bloom_tbl = (spark.read.parquet(path.rstrip("/") + "/_cps_bloom")
                     .groupBy("word")
                     .agg(F.bit_or("bits").alias("bits")))
        probed = bloom_probe(first, "fp", bloom_tbl, m_bits, k,
                             out_col="__cps_might").persist()
        persisted.append(probed)
        cand = probed.where(F.col("__cps_might")) \
                     .select("doc", "fp", "bucket")
        clean = probed.where(~F.col("__cps_might")) \
                      .select("doc", "fp", "bucket")
    else:  # legacy index without a Bloom summary
        cand, clean = first.select("doc", "fp", "bucket"), None
    buckets = [r["bucket"] for r in
               cand.select("bucket").distinct().collect()]
    if buckets:
        idx = (spark.read.parquet(path)
               .where(F.col("bucket").isin(buckets))
               .select("fp"))
        out = (cand.join(idx.hint("shuffle_hash"), "fp", "left_anti")
                   .select("doc", "fp", "bucket"))
    else:
        out = cand  # nothing bloom-positive: the index is never read
    if clean is not None:
        out = out.unionByName(clean)
    if append_survivors:
        (out.select("fp", "doc", "bucket")
            .write.mode("append").partitionBy("bucket").parquet(path))
        if "bloom_m" in stored:
            bloom_build(out.select("fp"), "fp", m_bits, k) \
                .repartition(1).write.mode("append") \
                .parquet(path.rstrip("/") + "/_cps_bloom")
    result = out.select("doc", "fp")
    result._cps_persisted = persisted  # see release()
    return result


def index_compact(spark, path: str, out_path: str,
                  mode: str = "overwrite") -> dict:
    """Compact a continuous-ingestion index (fingerprint OR banded
    minhash — anything bucket-partitioned with optional ``_cps_bloom``
    / ``_cps_meta`` children) COPY-ON-WRITE: rewrite the data so each
    bucket directory holds ONE file, OR-merge the append-only Bloom
    word-table deltas into a single delta, and carry the parameter
    sidecar over unchanged.

    Why it exists: every append (``fingerprint_index_write(mode=
    'append')`` / ``dedup_incremental(append_survivors=True)`` /
    ``minhash_index_write(mode='append')`` / ``minhash_dedup_
    incremental(append_novel=True)``) adds one file per touched
    bucket plus one Bloom delta, so after N batches a probe opens
    O(N) files per bucket and OR-merges N deltas, a probe cost that
    grows with every batch ingested. Compaction restores both to 1
    WITHOUT changing any probe result: same rows, same ``bucket=``
    directory layout (so partition pruning is untouched), and the
    merged word table is exactly the bitwise OR the probe would have
    computed from the deltas (no false-negative risk — the geometry
    in the sidecar is untouched).

    Copy-on-write like :func:`~charmpandas_spark.sources.parquet.
    compact_files`: Spark cannot atomically overwrite a directory it
    is reading, and an interrupted in-place rewrite would corrupt
    the accumulated history; the caller swaps paths after validating.

    Returns ``{"rows", "buckets", "files_before", "files_after"}``
    (file counts via the Hadoop FileSystem — works on HDFS/S3A/local
    alike; no driver-side directory walking)."""
    if out_path.rstrip("/") == path.rstrip("/"):
        raise ValueError("index_compact is copy-on-write: out_path "
                         "must differ from path")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def file_count(p: str) -> int:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        return int(jp.getFileSystem(hconf).getContentSummary(jp)
                     .getFileCount())

    files_before = file_count(path)
    data = spark.read.parquet(path.rstrip("/"))
    if "bucket" not in data.columns:
        raise ValueError(f"{path!r} is not a bucket-partitioned "
                         "index (no 'bucket' partition column)")
    # one task per bucket value -> exactly one output file per bucket
    (data.repartition("bucket")
         .write.mode(mode).partitionBy("bucket")
         .parquet(out_path.rstrip("/")))
    try:
        deltas = spark.read.parquet(path.rstrip("/") + "/_cps_bloom")
    except Exception:
        deltas = None  # index without a Bloom summary
    if deltas is not None:
        (deltas.groupBy("word").agg(F.bit_or("bits").alias("bits"))
               .repartition(1)
               .write.mode(mode)
               .parquet(out_path.rstrip("/") + "/_cps_bloom"))
    meta = _index_meta_read(spark, path)
    if meta is not None:
        _index_meta_write(spark, out_path, meta)
    counts = data.agg(F.count(F.lit(1)),
                      F.countDistinct("bucket")).first()
    return {"rows": int(counts[0]), "buckets": int(counts[1]),
            "files_before": files_before,
            "files_after": file_count(out_path)}


#: ``format`` marker in a MinHash index's ``_cps_meta`` sidecar: the
#: band-key encoding. Indexes written before the marker existed key
#: bands on md5 hex strings, which never equal the int64 xxhash64 keys
#: of a probe, so a sidecar without this exact marker raises instead
#: of silently matching nothing.
_MINHASH_INDEX_FORMAT = "band_key:xxhash64-int64"


def _band_bucket(num_buckets: int) -> Column:
    """Bucket of a banded-index row: the nonnegative mod of its int64
    ``band_key`` (already a uniform xxhash64, r18 — no second hash).
    ONE definition shared by the index writer and the probe: a
    divergent bucket expression between the two silently empties the
    band join (the bucket rides the join key), which is exactly the
    bug class centralizing this prevents."""
    return (F.col("band_key") % num_buckets + num_buckets) % num_buckets


def _banded_rows(df: SparkDF, text_col: str, id_col: str,
                 num_hashes: int, bands: int, k: int, hash_fn: str,
                 use_chars: bool, n: int) -> SparkDF:
    """(doc, sh, band_idx, band_key): one row per (doc, band) with
    the document's shingle set inlined — the storage/probe unit of
    the banded LSH index; ``band_key`` as in :func:`_band_keys`. A
    persisted index records the key encoding in
    ``_MINHASH_INDEX_FORMAT``."""
    sh = shingle_table(df, text_col, id_col, k, use_chars, n)
    sig = _signatures_from_shingles(sh, num_hashes, hash_fn)
    banded = _band_keys(sig, num_hashes, bands)
    return banded.join(sh, "doc").select("doc", "sh",
                                         "band_idx", "band_key")


def minhash_index_write(df: SparkDF, text_col: str, id_col: str,
                        path: str, num_hashes: int = 16, bands: int = 4,
                        k: int = 5, hash_fn: str = "md5",
                        use_chars: bool = False, n: int = 3,
                        num_buckets: int = 64,
                        mode: str = "overwrite") -> None:
    """Persist a banded MinHash LSH index partitioned by
    band-key-hash bucket — the NEAR-dup counterpart of
    :func:`fingerprint_index_write` for continuous ingestion: a new
    batch probes years of history by opening only the buckets its own
    band keys hash into, instead of re-signing the historical corpus.

    Layout: ``(bucket, band_idx, band_key, doc, sh)``, one row per
    (doc, band); the shingle set rides inline so the exact-verify
    stage needs NO second lookup (storage trade-off: ``bands`` copies
    of each doc's normalized shingles — the price of one-round-trip
    probes; band tables that store ids only pay a second history
    fetch per candidate instead)."""
    from .bloom import bloom_build, bloom_params

    spark = df.sparkSession
    meta = {"kind": "minhash_lsh", "format": _MINHASH_INDEX_FORMAT,
            "num_hashes": num_hashes, "bands": bands, "k": k,
            "hash_fn": hash_fn, "use_chars": use_chars, "n": n,
            "num_buckets": num_buckets}
    if mode == "append":
        _index_meta_check(spark, path, meta)
    from pyspark import StorageLevel

    rows = _banded_rows(df, text_col, id_col, num_hashes, bands, k,
                        hash_fn, use_chars, n)
    rows = (rows.withColumn("bucket", _band_bucket(num_buckets))
                # pinned across the index write AND the bloom build:
                # without it the (normalize -> shingle -> num_hashes
                # minhash HOFs) lineage executed TWICE per build, and
                # the bloom sizing paid a third scan for df.count()
                # (r15 build-leg profile: build 3.4 -> 2.x s warm)
                .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        (rows.repartition("bucket")
             .write.mode(mode).partitionBy("bucket").parquet(path))
        # Bloom summary over the indexed BAND KEYS (append-only
        # deltas, same layout/lifecycle as fingerprint_index_write's):
        # a batch band row whose key probes negative cannot share a
        # band with any historical doc, so clean batches skip the
        # index entirely — see minhash_dedup_incremental.
        stored = (_index_meta_read(spark, path) or {}) \
            if mode == "append" else {}
        if "bloom_m" in stored:
            m_bits, bk = stored["bloom_m"], stored["bloom_k"]
        else:
            # rows has exactly bands rows per doc, so this count (off
            # the persisted table the write just materialized) equals
            # df.count() * bands without a third corpus scan
            n_docs = rows.count() // bands
            m_bits, bk = bloom_params(max(n_docs, 1) * bands, 0.001)
        bloom_build(rows.select("band_key"), "band_key", m_bits, bk) \
            .repartition(1) \
            .write.mode("append" if mode == "append" else "overwrite") \
            .parquet(path.rstrip("/") + "/_cps_bloom")
        meta.update(bloom_m=m_bits, bloom_k=bk)
        _index_meta_write(spark, path, meta)
    finally:
        rows.unpersist()


def _index_cache_fingerprint(spark, path: str) -> tuple:
    """Cheap staleness probe for the cross-batch index cache (ADVICE
    r16): the (name, length) listing of the index's ``_cps_bloom``
    directory plus the meta sidecar's files. One Hadoop-FS
    ``listStatus`` per micro-batch — if another writer appended bloom
    deltas (``minhash_index_write(mode='append')``) or
    ``index_compact`` rewrote the sidecars while a standing query
    holds the cache, the listing changes and the caller drops the
    cached copies instead of silently probing a stale bloom (a
    stale-bloom NEGATIVE would skip the index scan and miss real
    matches; re-reading restores the pre-cache per-batch behavior)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for child in ("_cps_bloom", "_cps_meta"):
        hpath = jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/" + child)
        try:
            fs = hpath.getFileSystem(conf)
            if fs.exists(hpath):
                for st in fs.listStatus(hpath):
                    nm = st.getPath().getName()
                    if not nm.startswith(("_", ".")):
                        out.append((child, nm, st.getLen()))
            else:
                out.append((child, None, -1))
        except Exception:
            out.append((child, "?", -2))
    return tuple(sorted(out))


def minhash_dedup_incremental(spark, batch: SparkDF, path: str,
                              text_col: str, id_col: str,
                              threshold: float = 0.7,
                              num_hashes: int = 16, bands: int = 4,
                              k: int = 5, hash_fn: str = "md5",
                              use_chars: bool = False, n: int = 3,
                              num_buckets: int = 64,
                              append_novel: bool = False,
                              cache: dict | None = None) -> SparkDF:
    """NEAR-dup matches of ``batch`` against the LSH index at
    ``path``: ``(doc, matched_doc, jaccard)`` for every batch doc
    within exact-verified Jaccard >= ``threshold`` of a historical
    doc that shares an LSH band with it. Same funnel as
    :func:`minhash_near_dup`, but the history side is a PRUNED index
    scan: the batch's band keys hash to a bounded bucket list
    (collected client-side, <= ``num_buckets`` values) that lands in
    the scan's partition filters — I/O proportional to the batch's
    bucket coverage, not history size, exactly like
    :func:`dedup_incremental`'s exact-hash variant.

    INTRA-batch near-dups are out of scope (run
    :func:`minhash_near_dup` on the batch for those); recall is LSH
    recall, same (b, r) S-curve as the batch operator. With
    ``append_novel`` the UNMATCHED batch docs' band rows are appended
    so the next batch sees them (matched dups are NOT indexed — the
    survivor represents the cluster, RefinedWeb-style).

    Two-tier (r9): when the index carries a ``_cps_bloom`` summary
    over its band keys, batch band rows probe it FIRST — a
    bloom-negative band key shares no band with any historical doc,
    so only positive rows open buckets; a clean batch never reads
    the index (pytest-witnessed). No false negatives; positives just
    take the exact verify.

    ``cache`` (r16, for standing callers like
    ``streaming.dedup.streaming_minhash_dedup``): a caller-owned dict
    that holds the meta sidecar and the grouped-and-persisted bloom
    table ACROSS calls, so a per-micro-batch caller doesn't re-read
    ``_cps_meta``/``_cps_bloom`` from disk every batch. On
    ``append_novel`` the cached bloom is updated IN MEMORY (union the
    freshly-built novel band-key bloom rows, re-group, re-persist)
    in lockstep with the parquet append. Writes the cache CANNOT see
    (another session's ``mode='append'`` index write, an
    ``index_compact`` rewrite) are caught by a per-call sidecar
    listing (:func:`_index_cache_fingerprint`, ADVICE r16): a changed
    ``_cps_bloom``/``_cps_meta`` listing drops the cached copies and
    re-reads from disk, so a concurrent writer degrades to the
    pre-cache per-batch-read behavior instead of silently missing
    matches. The cached bloom is owned by the cache, not by
    ``release(matches)`` — callers unpersist ``cache['bloom']`` when
    the standing query stops.

    Self-match guard (ADVICE r15): ``doc != matched_doc`` is filtered
    from the match output. In normal batch/stream use batch ids and
    index ids are disjoint so the filter is a no-op, but on
    at-least-once crash-replay (crash between the novel-band index
    append and the streaming checkpoint commit) a replayed batch
    probes its OWN previously-appended band rows at jaccard 1.0 —
    without the guard those self-matches would mislabel genuinely
    novel docs as duplicates in the sink."""
    from pyspark import StorageLevel
    from pyspark.sql.types import DoubleType, StructField, StructType

    from .bloom import bloom_build, bloom_probe

    probe_meta = {
        "kind": "minhash_lsh", "format": _MINHASH_INDEX_FORMAT,
        "num_hashes": num_hashes,
        "bands": bands, "k": k, "hash_fn": hash_fn,
        "use_chars": use_chars, "n": n, "num_buckets": num_buckets}
    if cache is not None:
        # staleness gate (ADVICE r16): one listing per batch; if the
        # on-disk bloom/meta sidecars changed under the cache (another
        # writer's append, index_compact rewrite), drop the cached
        # copies and re-read below — a stale bloom's false NEGATIVES
        # would silently skip real matches. Our own lockstep append
        # at the bottom refreshes the fingerprint after it writes.
        fp = _index_cache_fingerprint(spark, path)
        if cache.get("sidecar_fp") not in (None, fp):
            handle = cache.pop("bloom_handle", None)
            if handle is not None:
                handle.unpersist()
            cache.pop("bloom", None)
            cache.pop("meta", None)
        cache["sidecar_fp"] = fp
    if cache is not None and "meta" in cache:
        stored = cache["meta"]
        _index_meta_check(spark, path, probe_meta, stored=stored)
    else:
        _index_meta_check(spark, path, probe_meta)
        stored = _index_meta_read(spark, path) or {}
        if cache is not None:
            cache["meta"] = stored
    brows = (_banded_rows(batch, text_col, id_col, num_hashes, bands,
                          k, hash_fn, use_chars, n)
             .withColumn("bucket", _band_bucket(num_buckets))
             .persist(StorageLevel.MEMORY_AND_DISK))
    persisted = [brows]
    probe_rows = brows
    if "bloom_m" in stored:
        m_bits, bk = stored["bloom_m"], stored["bloom_k"]
        if cache is not None and "bloom" in cache:
            bloom_tbl = cache["bloom"]
        else:
            bloom_tbl = (spark.read.parquet(
                             path.rstrip("/") + "/_cps_bloom")
                         .groupBy("word")
                         .agg(F.bit_or("bits").alias("bits")))
            if cache is not None:
                # lineage-cut + tracked blocks: the cached bloom is a
                # k-row (m_bits/64) table held in executor memory
                # across micro-batches; the handle is owned by the
                # cache, freed by the standing query's stop hook, NOT
                # by release(matches).
                bloom_tbl, handle = tracked_local_checkpoint(bloom_tbl)
                cache["bloom"], cache["bloom_handle"] = bloom_tbl, handle
        # classic probe shape on purpose (r18, measured): the
        # wide_rows k-join variant avoids exchanging the
        # array-carrying band rows, but its k per-join broadcast
        # BUILDS cost more than the exchange they remove at bench
        # scale (bloom_probe leg 0.94s classic vs 1.45s k-join per
        # batch; Spark 4.1 does not reuse the broadcast across join
        # instances). wide_rows stays available as the
        # parameterized lever for payloads where the exchange
        # dominates the k builds.
        probe_rows = (bloom_probe(brows, "band_key", bloom_tbl,
                                  m_bits, bk, out_col="__cps_might")
                      .where(F.col("__cps_might"))
                      .drop("__cps_might")
                      .persist(StorageLevel.MEMORY_AND_DISK))
        persisted.append(probe_rows)
    buckets = [r["bucket"] for r in
               probe_rows.select("bucket").distinct().collect()]
    if buckets:
        idx = (spark.read.parquet(path)
               .where(F.col("bucket").isin(buckets))
               .withColumnsRenamed({"doc": "matched_doc",
                                    "sh": "__sh_h"}))
        cand = (probe_rows.join(idx.hint("shuffle_hash"),
                                ["band_idx", "band_key", "bucket"])
                          .select("doc", "sh", "matched_doc", "__sh_h"))
        # Verify MAP-SIDE, dedup after (r18, guide §2.3 "project
        # before the exchange"): the exact-Jaccard filter and the
        # self-match guard run on the band join's output BEFORE the
        # pair dedup, so the dropDuplicates exchange carries only
        # (doc, matched_doc, jaccard) — 24 bytes — for
        # threshold-passing pairs, instead of BOTH inlined shingle
        # arrays for every candidate. A pair sharing several bands is
        # verified once per shared band (same arrays -> identical
        # jaccard, so the kept row is deterministic); that duplicate
        # array_intersect is noise next to shuffling the arrays.
        matches = (cand.withColumn("jaccard",
                                   _array_jaccard("sh", "__sh_h"))
                       .filter(F.col("jaccard") >= threshold)
                       # self-match guard: no-op when batch and index
                       # ids are disjoint; on crash-replay it stops a
                       # replayed batch matching its own appended band
                       # rows (ADVICE r15, docstring above)
                       .filter(~F.col("doc").eqNullSafe(
                           F.col("matched_doc")))
                       .select("doc", "matched_doc", "jaccard")
                       .dropDuplicates(["doc", "matched_doc"]))
    else:  # every band key bloom-negative: the index is never read
        doc_t = brows.schema["doc"].dataType
        matches = spark.createDataFrame([], StructType([
            StructField("doc", doc_t),
            StructField("matched_doc", doc_t),
            StructField("jaccard", DoubleType())]))
    if append_novel:
        # CHECKPOINT matches (r18), don't just persist it: this
        # branch is about to APPEND to the very path matches' lineage
        # scans, and a parquet append refreshes/invalidates every
        # cached plan referencing that path — a later consumer (the
        # bloom-delta recompute, the caller's sink write) would then
        # RE-LIST the index post-append and probe the batch's OWN
        # freshly appended band rows, surfacing intra-batch pairs the
        # operator's contract excludes (caught by
        # test_streaming_minhash_dedup_matches_sequential_batches
        # when the r18 band-key change shifted materialization
        # timing). The eager localCheckpoint pins "matches = probe
        # result against the index AS OF batch start" immutably —
        # and, as before, the anti-join and sink write stop
        # re-executing the probe funnel (ADVICE r15 #4).
        matches, mh = tracked_local_checkpoint(matches)
        persisted.append(mh)
        # persist the novel rows too (r18): the band append AND the
        # bloom-delta build both consume them — unpersisted, the
        # anti-join executed twice per batch (profiled: novel_append
        # 2.3s + bloom_delta 1.8s of an ~8s batch at sf0.1, half of
        # it recompute).
        novel = (brows.join(matches.select("doc").distinct(),
                            "doc", "left_anti")
                      .select("bucket", "band_idx", "band_key",
                              "doc", "sh")
                      .persist(StorageLevel.MEMORY_AND_DISK))
        persisted.append(novel)
        # rebalance by bucket before the append (guide §6 "output
        # file sizing"): about one file per touched bucket instead of
        # (scan tasks x buckets) small files, so each later probe
        # opens O(buckets) files per append. Unlike a plain
        # repartition, AQE splits a bucket larger than the advisory
        # partition size across several tasks (and files), so a
        # skewed batch does not funnel one bucket through one task.
        (novel.hint("rebalance", "bucket")
              .write.mode("append").partitionBy("bucket").parquet(path))
        if "bloom_m" in stored:
            nb = bloom_build(novel.select("band_key"), "band_key",
                             m_bits, bk)
            if cache is not None:
                nb = nb.persist(StorageLevel.MEMORY_AND_DISK)
            nb.repartition(1).write.mode("append") \
                .parquet(path.rstrip("/") + "/_cps_bloom")
            if cache is not None and "bloom" in cache:
                # fold the novel rows into the cached bloom in
                # lockstep with the parquet append; lineage is cut
                # per batch so a standing query's DAG stays flat
                merged, handle = tracked_local_checkpoint(
                    cache["bloom"].unionByName(nb)
                    .groupBy("word").agg(F.bit_or("bits").alias("bits")))
                old_handle = cache.get("bloom_handle")
                cache["bloom"], cache["bloom_handle"] = merged, handle
                if old_handle is not None:
                    old_handle.unpersist()
                nb.unpersist()
        if cache is not None:
            # our own appends (band rows + bloom delta) changed the
            # listing; refresh so the next batch's staleness gate
            # doesn't read the lockstep-updated cache as stale
            cache["sidecar_fp"] = _index_cache_fingerprint(spark, path)
    matches._cps_persisted = persisted  # see release()
    return matches


# ---------------------------------------------------------------------------
# edit-distance similarity join (q-gram filtered Levenshtein)
# ---------------------------------------------------------------------------

def edit_distance_pairs(df: SparkDF, text_col: str, id_col: str,
                        max_dist: int = 1, q: int = 2) -> SparkDF:
    """All pairs (a < b) of normalized strings within Levenshtein
    distance ``max_dist`` — typo-level entity dedup (names, titles,
    product strings), the character-level complement of the
    token-set Jaccard family.

    LOSSLESS q-gram candidate filter: strings at edit distance <= k
    share at least ``max(|a|,|b|) - q + 1 - k*q`` character q-grams,
    so any string of length >= ``q*(k+1) + q - 1`` is guaranteed >= 1
    shared gram with every true match — those pair up through an
    inverted q-gram index join (one explode + one shuffle, never
    all-pairs). Strings SHORTER than that bound can't rely on the
    guarantee; they form a (tiny, by Zipf of short strings) side set
    compared all-pairs against every string within ``max_dist`` of
    their length — bounded by |short| x |length-band|, and the length
    predicate prunes first. Candidates then verify with the exact
    ``levenshtein`` built-in; a length-difference pre-filter kills
    the obvious non-matches before the DP runs."""
    k = max_dist
    min_safe = q * (k + 1) + q - 1
    base = spread(df.select(F.col(id_col).alias("doc"),
                            normalize_text(text_col).alias("s")))
    base = base.withColumn("len", F.length("s"))
    long_side = base.where(F.col("len") >= min_safe)
    short_side = base.where(F.col("len") < min_safe)

    idx = F.sequence(F.lit(1), F.greatest(F.col("len") - (q - 1),
                                          F.lit(1)))
    grams = (long_side
             .select("doc", "s", "len",
                     F.explode(F.array_distinct(F.transform(
                         idx, lambda i: F.substring(F.col("s"), i, q))))
                      .alias("g")))
    cand_long = _blocked_pairs(
        grams, ["g"], carry=("s", "len"), hint="shuffle_hash",
        verify=lambda p: (p.where(F.abs(F.col("len_a") - F.col("len_b"))
                                  <= k)
                           .select("doc_a", "doc_b", "s_a", "s_b")))
    s = short_side.select(F.col("doc").alias("doc_s"),
                          F.col("s").alias("__ss"),
                          F.col("len").alias("__ls"))
    cand_short = (s.join(base.select(F.col("doc").alias("doc_o"),
                                     F.col("s").alias("__so"),
                                     F.col("len").alias("__lo")),
                         on=[F.col("doc_s") != F.col("doc_o"),
                             F.abs(F.col("__ls") - F.col("__lo"))
                             <= k])
                   .select(F.least("doc_s", "doc_o").alias("doc_a"),
                           F.greatest("doc_s", "doc_o").alias("doc_b"),
                           F.when(F.col("doc_s") < F.col("doc_o"),
                                  F.col("__ss")).otherwise(F.col("__so"))
                            .alias("s_a"),
                           F.when(F.col("doc_s") < F.col("doc_o"),
                                  F.col("__so")).otherwise(F.col("__ss"))
                            .alias("s_b"))
                   .distinct())
    return (cand_long.unionByName(cand_short)
            .withColumn("dist", F.levenshtein("s_a", "s_b"))
            .where(F.col("dist") <= k)
            .select("doc_a", "doc_b",
                    F.col("dist").cast("int").alias("dist"))
            .distinct())


def edit_distance_pairs_sql(t: str, id_expr: str, text_expr: str,
                            max_dist: int = 1) -> str:
    """DuckDB twin: brute-force pairwise Levenshtein over normalized
    strings (the q-gram filter is lossless, so outputs are equal —
    which is exactly what the oracle proves)."""
    norm = (f"trim(regexp_replace(lower({text_expr}), '\\s+', ' ', "
            f"'g'))")
    return f"""
        WITH s AS (SELECT {id_expr} AS doc, {norm} AS txt FROM {t})
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(levenshtein(a.txt, b.txt) AS INT) AS dist
        FROM s a JOIN s b ON a.doc < b.doc
        WHERE levenshtein(a.txt, b.txt) <= {max_dist}
    """
