"""Sketch aggregations (error-bound tests vs exact) and as-of join
(vs a pandas merge_asof oracle)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

import charmpandas_spark as cps


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return cps.read_table(spark, sf_dir, "events").sdf


def test_approx_distinct_within_bounds(events):
    from charmpandas_spark.functions.sketches import approx_distinct
    exact = events.select("user_id").distinct().count()
    got = approx_distinct(events, "user_id", rsd=0.02) \
        .first()["approx_user_id"]
    assert abs(got - exact) / exact < 0.1


def test_hll_sketch_merge_roundtrip(events):
    from charmpandas_spark.functions.sketches import hll_merge, hll_sketch
    # sketch per event_type, then merge -> global estimate
    per_type = hll_sketch(events, "user_id", by=["event_type"])
    est = hll_merge(per_type, "user_id_hll").first()["estimate"]
    exact = events.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.1


def test_approx_quantiles(events):
    from charmpandas_spark.functions.sketches import approx_quantiles
    got = approx_quantiles(events, "value", [0.5]).first()["value_quantiles"]
    exact = events.agg(F.percentile("value", 0.5)).first()[0]
    spread = events.agg(F.max("value") - F.min("value")).first()[0]
    assert abs(got[0] - exact) / spread < 0.05


def test_bloom_no_false_negatives_and_fpr(spark):
    """Bloom word table: zero false negatives on every inserted key
    (algebraic, fixed hash), measured FPR within 2x the design rate,
    and the word table never exceeds m/64 rows."""
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.bloom import (bloom_build,
                                                   bloom_params,
                                                   bloom_probe)

    n, fpp = 10_000, 0.01
    m, k = bloom_params(n, fpp)
    keys = spark.range(n).select(F.concat(F.lit("k"), "id").alias("s"))
    bloom = bloom_build(keys, "s", m, k)
    assert bloom.count() <= m // 64
    assert bloom_probe(keys, "s", bloom, m, k) \
        .where("NOT might_contain").count() == 0
    neg = spark.range(10**6, 10**6 + 20_000) \
        .select(F.concat(F.lit("k"), "id").alias("s"))
    fp = bloom_probe(neg, "s", bloom, m, k) \
        .where("might_contain").count()
    assert fp / 20_000 <= 2 * fpp, fp


def test_decontaminate_bloom_superset_of_exact(spark, sf_dir):
    """Two-tier decontamination contract: same n_ngrams as the exact
    path, n_flagged >= n_hits for EVERY doc (no false negatives), and
    the corpus-wide false-positive surplus stays tiny at fpp=1e-3."""
    import charmpandas_spark as cps
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.bloom import decontaminate_bloom
    from charmpandas_spark.functions.dedup import decontaminate

    docs = cps.read_table(spark, sf_dir, "documents").sdf
    bench_pred = F.col("source").isin("src0", "src1")
    corpus, bench = docs.where(~bench_pred), docs.where(bench_pred)
    exact = decontaminate(corpus, bench, "text", "doc_id", n=5)
    blm = decontaminate_bloom(corpus, bench, "text", "doc_id", n=5,
                              fpp=0.001) \
        .withColumnsRenamed({"n_ngrams": "n2", "n_flagged": "nf"})
    j = exact.join(blm, "doc")
    assert j.where("n_ngrams != n2 OR nf < n_hits").count() == 0
    total_grams, surplus = j.agg(
        F.sum("n_ngrams"), F.sum(F.col("nf") - F.col("n_hits"))).first()
    assert surplus <= max(20, 0.002 * total_grams), (surplus,
                                                     total_grams)


def test_approx_distinct_check_bounds(spark):
    """HLL++ gate: ok=true per group, exact counts carried, including
    a tiny group where the absolute floor (not the relative band)
    does the work."""
    from charmpandas_spark.functions.sketches import approx_distinct_check

    rows = ([("big", i) for i in range(20000)]
            + [("tiny", i % 3) for i in range(30)])
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in
           approx_distinct_check(df, "v", rsd=0.02, by=["g"]).collect()}
    assert out["big"]["n_distinct"] == 20000 and out["big"]["ok"]
    assert out["tiny"]["n_distinct"] == 3 and out["tiny"]["ok"]


def test_approx_quantiles_check_bounds(spark):
    """The rank-interval gate: ok=true on skewed AND tie-heavy data
    (where value-proximity checks would be meaningless), n exact,
    one row per (group, p)."""
    from charmpandas_spark.functions.sketches import approx_quantiles_check

    rows = ([(i, "skew", float(i) ** 3) for i in range(2000)]
            # tie-heavy group: 90% of mass on one value
            + [(i, "ties", 7.0 if i % 10 else float(i))
               for i in range(2000)])
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = approx_quantiles_check(df, "v", [0.25, 0.5, 0.95],
                                 accuracy=100, by=["g"]).collect()
    assert len(out) == 6
    assert all(r["ok"] for r in out)
    assert all(r["n"] == 2000 for r in out)
    qs = {(r["g"], r["quantile"]) for r in out}
    assert qs == {(g, q) for g in ("skew", "ties")
                  for q in (25, 50, 95)}


def test_histogram_equidepth_approx_bounds(spark):
    """Approx-boundary equi-depth histogram: every bucket present and
    within the 2*eps*n + max-tie bound, on data WITH heavy ties."""
    from charmpandas_spark.functions.profile import (
        histogram_equidepth_approx)

    # heaviest tie carries 5% of mass — below the n/B = 12.5% limit
    # past which equi-depth buckets legitimately go empty
    rows = [(i, float(i % 97) if i % 20 else 42.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = histogram_equidepth_approx(df, "v", 8, accuracy=1000).collect()
    assert len(out) == 8
    assert sorted(r["bucket"] for r in out) == list(range(8))
    assert all(r["ok"] for r in out)
    assert all(r["n_total"] == 5000 for r in out)


def test_heavy_hitters(events):
    from charmpandas_spark.functions.sketches import heavy_hitters
    got = heavy_hitters(events, "event_type", k=2).toPandas()
    exact = (events.groupBy("event_type").count()
             .orderBy(F.col("count").desc()).toPandas())
    assert list(got["event_type"]) == list(exact["event_type"][:2])
    got_by = heavy_hitters(events, "user_id", k=3,
                           by=["event_type"]).toPandas()
    assert got_by.groupby("event_type").size().le(3).all()


def test_asof_join_matches_pandas(spark, events):
    from charmpandas_spark.operators.asof import asof_join
    clicks = events.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    got = asof_join(clicks, purchases, "ts", "user_id", ["value"]) \
        .toPandas().sort_values("event_id").reset_index(drop=True)

    cp = clicks.toPandas().sort_values("ts")
    pp = purchases.toPandas().sort_values("ts")
    want = pd.merge_asof(cp, pp, on="ts", by="user_id",
                         direction="backward") \
        .sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want)
    gv = got["value_asof"].fillna(-1.0).values
    wv = want["value"].fillna(-1.0).values
    assert (gv == wv).all()


def test_asof_join_no_match_is_null(spark):
    # NB: pd.Timestamp in a plain tuple is inferred as an opaque struct
    # by createDataFrame (Spark 4) -> use datetime
    import datetime
    from charmpandas_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 10, datetime.datetime(2024, 1, 5))], ["id", "k", "ts"])
    right = spark.createDataFrame(
        [(10, datetime.datetime(2024, 1, 7), 5.0)], ["k", "ts", "v"])
    out = asof_join(left, right, "ts", "k", ["v"]).first()
    assert out["v_asof"] is None


def test_asof_join_tie_at_equal_ts(spark):
    import datetime
    from charmpandas_spark.operators.asof import asof_join
    t = datetime.datetime(2024, 1, 5)
    left = spark.createDataFrame([(1, 10, t)], ["id", "k", "ts"])
    right = spark.createDataFrame([(10, t, 9.0)], ["k", "ts", "v"])
    out = asof_join(left, right, "ts", "k", ["v"]).first()
    assert out["v_asof"] == 9.0  # <= semantics: equal ts matches

def test_ivf_build_and_search(spark, sf_dir):
    from charmpandas_spark.functions.ivf import ivf_build, ivf_search
    from charmpandas_spark.functions.similarity import cosine_topk
    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    assigned, centroids = ivf_build(emb, "embedding", "vec_id", nlist=8)
    assert len(centroids) == 8
    # every vector lands in exactly one list
    assert assigned.count() == emb.count()
    assert assigned.select("__cps_list").distinct().count() <= 8

    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf_search(assigned, centroids, "embedding", "vec_id", q,
                     k=5, nprobe=3).toPandas()
    # query's own vector is in a probed list (its centroid is closest)
    assert 0 in set(got["vec_id"])
    # scores are true cosines (IVF prunes, never rescores)
    exact = cosine_topk(emb, "embedding", "vec_id", q, emb.count()) \
        .toPandas().set_index("vec_id")["cosine"]
    for r in got.itertuples():
        assert exact[r.vec_id] == r.cosine
    # full probe = exact top-k
    full = ivf_search(assigned, centroids, "embedding", "vec_id", q,
                      k=5, nprobe=8).toPandas()
    want = cosine_topk(emb, "embedding", "vec_id", q, 5).toPandas()
    assert list(full["vec_id"]) == list(want["vec_id"])


def test_interval_join_matches_naive(spark, sf_dir):
    """Bin-and-refine must emit exactly the naive non-equi join's rows
    (which plans as a nested loop — the thing the operator avoids)."""
    import charmpandas_spark as cps
    from charmpandas_spark.operators.interval import interval_join
    from charmpandas_spark.plans.explain import join_strategies
    from pyspark.sql import functions as F

    ev = cps.read_table(spark, sf_dir, "events").sdf
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
               .select(F.col("event_id").alias("error_id"), "user_id",
                       F.col("ts").alias("s"),
                       (F.col("ts") + F.expr("INTERVAL 6 HOURS"))
                       .alias("e"))
    fast = interval_join(clicks, errors, "ts", "s", "e",
                         on="user_id", granularity_sec=3600)
    naive = (clicks.join(errors.withColumnRenamed("user_id", "u2"),
                         (F.col("user_id") == F.col("u2"))
                         & (F.col("ts") >= F.col("s"))
                         & (F.col("ts") <= F.col("e"))))
    got = set((r.event_id, r.error_id)
              for r in fast.select("event_id", "error_id").collect())
    want = set((r.event_id, r.error_id)
               for r in naive.select("event_id", "error_id").collect())
    assert got == want and want
    assert "BroadcastNestedLoopJoin" not in join_strategies(fast)
    # with an equi key Catalyst extracts a hash join even for the
    # naive form; WITHOUT one (global intervals) the naive range join
    # IS a nested loop — and the binned form still equi-joins:
    ck = clicks.limit(200)
    ek = errors.limit(50)
    naive_keyless = ck.join(
        ek, (F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e")))
    fast_keyless = interval_join(ck, ek.drop("user_id"), "ts", "s",
                                 "e", on=None, granularity_sec=3600)
    assert "BroadcastNestedLoopJoin" in join_strategies(naive_keyless)
    assert "BroadcastNestedLoopJoin" not in join_strategies(fast_keyless)
    got_k = set((r.event_id, r.error_id)
                for r in fast_keyless.select("event_id", "error_id")
                                     .collect())
    want_k = set((r.event_id, r.error_id)
                 for r in naive_keyless.select("event_id", "error_id")
                                       .collect())
    assert got_k == want_k


def test_ivf_partitioned_scan_prunes(spark, sf_dir):
    """The on-disk IVF index must PRUNE at the directory level: a
    search probing nprobe of nlist lists reads only nprobe partition
    directories (witnessed from the scan node's partition count and
    filters, not argued), and returns the same rows as the in-memory
    search."""
    import os
    import tempfile

    from charmpandas_spark.functions.ivf import (
        ivf_build, ivf_read_search, ivf_search, ivf_write)
    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    assigned, centroids = ivf_build(emb, "embedding", "vec_id", nlist=8)
    path = os.path.join(tempfile.gettempdir(),
                        f"cps_test_ivf_{os.getpid()}")
    ivf_write(assigned, path)
    n_dirs = len([d for d in os.listdir(path)
                  if d.startswith("__cps_list=")])
    assert n_dirs == 8

    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf_read_search(spark, path, centroids, "embedding",
                          "vec_id", q, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # partition filter reached the scan...
    assert "PartitionFilters" in plan and "__cps_list" in plan
    got_pdf = got.toPandas()   # execute so scan metrics populate
    # ...and the scan read exactly nprobe of the nlist directories
    scan = got._jdf.queryExecution().executedPlan().collectLeaves() \
        .head()
    n_parts = scan.metrics().apply("numPartitions").value()
    assert n_parts == 2, f"expected 2 probed partitions, read {n_parts}"
    want = ivf_search(assigned, centroids, "embedding", "vec_id", q,
                      k=5, nprobe=2).toPandas()
    assert list(got_pdf["vec_id"]) == list(want["vec_id"])


def test_asof_join_directions_and_tolerance(spark):
    """merge_asof parity: backward/forward/nearest + tolerance on a
    hand-built frame with every edge: exact tie, one-sided matches,
    out-of-tolerance matches, and a matched row carrying NULL value
    (must count as a MATCH, not fall through to the other side)."""
    from pyspark.sql import functions as F

    from charmpandas_spark.operators.asof import asof_join

    def ts(s):
        return f"2024-01-01 00:0{s}:00"

    left = spark.createDataFrame(
        [(1, "u", ts(5))], "id long, k string, ts_s string") \
        .select("id", "k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", ts(3), 30.0),    # 2 min before
         ("u", ts(6), 60.0)],   # 1 min after
        "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")

    def run(**kw):
        r = asof_join(left, right, "ts", "k", value_cols=["v"], **kw)
        return r.collect()[0]["v_asof"]

    assert run(direction="backward") == 30.0
    assert run(direction="forward") == 60.0
    assert run(direction="nearest") == 60.0  # 60 s closer than 120 s
    # 90 s tolerance: backward (120 s) excluded, forward (60 s) kept
    assert run(direction="nearest", tolerance_us=90_000_000) == 60.0
    # backward-direction with the same tolerance: nothing in range
    assert run(direction="backward", tolerance_us=90_000_000) is None
    # tolerance excludes both -> NULL
    assert run(direction="nearest", tolerance_us=30_000_000) is None

    # exact tie resolves backward; NULL-valued match is still a match
    right2 = spark.createDataFrame(
        [("u", ts(4), None), ("u", ts(6), 66.0)],
        "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    r2 = asof_join(left, right2, "ts", "k", value_cols=["v"],
                   direction="nearest").collect()[0]
    assert r2["v_asof"] is None  # backward match (1 min) carries NULL


def test_asof_join_null_value_not_stale(spark):
    """Regression: when the MATCHED right row carries a NULL value,
    the join must return that NULL — never a stale non-null value
    from an earlier row (which may even be outside tolerance).
    pandas merge_asof returns NaN in both cases."""
    import pandas as pd
    from pyspark.sql import functions as F

    from charmpandas_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", "2024-01-01 12:00:00")], "k string, ts_s string") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", "2024-01-01 09:00:00", 10.0),   # stale, 3 h old
         ("u", "2024-01-01 11:30:00", None)],  # matched, 30 min old
        "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")

    # no tolerance: match is the 11:30 row -> its NULL value
    out = asof_join(left, right, "ts", "k", ["v"]).collect()[0]
    assert out["v_asof"] is None
    # 1 h tolerance: 11:30 row in range but NULL; 09:00 out of range
    out = asof_join(left, right, "ts", "k", ["v"],
                    tolerance_us=3_600_000_000).collect()[0]
    assert out["v_asof"] is None

    # pandas oracle agrees
    lp = left.toPandas()
    rp = right.toPandas()
    want = pd.merge_asof(lp.sort_values("ts"), rp.sort_values("ts"),
                         on="ts", by="k",
                         tolerance=pd.Timedelta(hours=1))
    assert pd.isna(want["v"].iloc[0])

    # and a NON-null matched value still comes through with tolerance
    right3 = spark.createDataFrame(
        [("u", "2024-01-01 09:00:00", 10.0),
         ("u", "2024-01-01 11:30:00", 42.0)],
        "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    out = asof_join(left, right3, "ts", "k", ["v"],
                    tolerance_us=3_600_000_000).collect()[0]
    assert out["v_asof"] == 42.0


def test_asof_join_null_right_ts_skipped(spark):
    """ADVICE r8: a right row with a NULL timestamp must not shadow
    an earlier genuine match (pandas merge_asof raises on null keys;
    we skip null-ts right rows)."""
    from charmpandas_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", "2024-01-01 12:00:00")], "k string, ts_s string") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", "2024-01-01 11:00:00", 7.0),   # genuine match
         ("u", None, 99.0)],                  # null ts: must be skipped
        "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    out = asof_join(left, right, "ts", "k", ["v"]).collect()[0]
    assert out["v_asof"] == 7.0


def test_bloom_probe_multiplicity_and_map_schema(spark):
    """ADVICE r8: bloom_probe must preserve input-row multiplicity
    (duplicate rows stay duplicated) and accept schemas with
    non-groupable column types (maps)."""
    from charmpandas_spark.functions.bloom import (bloom_build,
                                                   bloom_params,
                                                   bloom_probe)

    m, k = bloom_params(100, 0.01)
    bloom = bloom_build(
        spark.createDataFrame([("a",)], "s string"), "s", m, k)
    dup = spark.createDataFrame(
        [("a", {"x": 1}), ("a", {"x": 1}), ("b", {"y": 2})],
        "s string, props map<string,int>")
    out = bloom_probe(dup, "s", bloom, m, k).collect()
    assert len(out) == 3                       # multiplicity preserved
    byk = sorted((r["s"], r["might_contain"]) for r in out)
    assert byk[0][1] and byk[1][1]             # both "a" rows positive
    assert {r["props"]["x"] for r in out if r["s"] == "a"} == {1}


def test_bloom_probe_wide_rows_path_matches_classic_paths(spark):
    """r18: the wide-rows probe is k scan-local BroadcastHashJoins
    (no exchange of the probe side, for rows hauling heavy payloads);
    the classic explode+groupBy shape stays the default and the
    big-filter (shuffle) path keeps working. All three must produce
    identical memberships row for row, and the wide-rows plan must
    contain no shuffle Exchange on the probe side."""
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.bloom import (bloom_build,
                                                   bloom_params,
                                                   bloom_probe)

    m, k = bloom_params(500, 0.01)
    keys = spark.range(500).select(
        F.concat(F.lit("k"), "id").alias("s"))
    bloom = bloom_build(keys, "s", m, k)
    probes = spark.range(0, 2000, 3).select(
        F.concat(F.lit("k"), "id").alias("s"))
    wide = {r["s"]: r["m"] for r in
            bloom_probe(probes, "s", bloom, m, k, out_col="m",
                        wide_rows=True).collect()}
    classic = {r["s"]: r["m"] for r in
               bloom_probe(probes, "s", bloom, m, k, out_col="m")
               .collect()}
    shuffle = {r["s"]: r["m"] for r in
               bloom_probe(probes, "s", bloom, m, k, out_col="m",
                           broadcast_bloom=False).collect()}
    assert wide == classic == shuffle
    assert len(wide) == len(probes.collect())
    # inserted prefix must be all-positive in all paths
    assert all(v for s, v in wide.items() if int(s[1:]) < 500)
    # isolate the probe plan from the bloom BUILD aggregation (which
    # legitimately shuffles inside the broadcast subtree): probing a
    # materialized word table with wide_rows must plan with zero
    # shuffle exchanges
    mat = spark.createDataFrame(bloom.collect(), bloom.schema)
    plan = (bloom_probe(probes, "s", mat, m, k, wide_rows=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_keeps_columns_named_like_its_temps(spark):
    """The probe's internal columns must not overwrite or drop a
    caller column of the same name, on either plan."""
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.bloom import (bloom_build,
                                                   bloom_params,
                                                   bloom_probe)

    m, k = bloom_params(50, 0.01)
    bloom = bloom_build(spark.range(50).select(
        F.concat(F.lit("k"), "id").alias("s")), "s", m, k)
    probes = spark.range(0, 100, 7).select(
        F.concat(F.lit("k"), "id").alias("s"),
        (F.col("id") * 10).alias("__cps_p0"),
        F.col("id").alias("__cps_rid"))
    outs = [sorted(bloom_probe(probes, "s", bloom, m, k,
                               wide_rows=wide).collect())
            for wide in (False, True)]
    assert outs[0] == outs[1]
    assert all(r["__cps_p0"] == 10 * r["__cps_rid"] for r in outs[0])
    assert {r["__cps_rid"] for r in outs[0]} == set(range(0, 100, 7))
    assert all(r["might_contain"] for r in outs[0]
               if r["__cps_rid"] < 50)
    assert outs[0][0].__fields__ == ["s", "__cps_p0", "__cps_rid",
                                     "might_contain"]


def test_ivfpq_roundtrip_prunes_and_ranks_duplicate_first(
        spark, sf_dir, tmp_path):
    """IVF-PQ: the materialized codes table prunes at the directory
    level (scan reads only the probed lists — witnessed from scan
    metrics), the disk search equals the in-memory search, and a
    planted exact duplicate of a query vector lands in the same list
    with the same codes, so ADC ranks it first."""
    from charmpandas_spark.functions.ivfpq import (
        ivfpq_build, ivfpq_read_search, ivfpq_search, ivfpq_write)

    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    dup = emb.where(F.col("vec_id") == 7) \
             .withColumn("vec_id", F.lit(999_999).cast("long"))
    corpus = emb.unionByName(dup)
    codes, cents, books = ivfpq_build(
        corpus, "embedding", "vec_id", nlist=8, coarse_iters=1,
        m=8, codebook_k=16, pq_iters=1, coarse_cap=128, pq_cap=128)
    queries = emb.where(F.col("vec_id") == 7)
    mem = ivfpq_search(codes, cents, books, queries, "embedding",
                       "vec_id", k=5, nprobe=2).toPandas()
    assert mem.loc[mem["rank"] == 1, "item_id"].iloc[0] == 999_999

    path = str(tmp_path / "ivfpq_idx")
    ivfpq_write(codes, path)
    import os
    n_dirs = len([d for d in os.listdir(path)
                  if d.startswith("cluster=")])
    assert n_dirs == 8
    got = ivfpq_read_search(spark, path, cents, books, queries,
                            "embedding", "vec_id", k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    got_pdf = got.toPandas()

    # walk the (AQE-wrapped) executed plan down to the parquet scan
    def walk(node, out):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), out)
            return
        if "QueryStage" in name:
            walk(node.plan(), out)
            return
        out.append(node)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)

    nodes = []
    walk(got._jdf.queryExecution().executedPlan(), nodes)
    # the index scan is the only PARTITIONED parquet scan in the
    # plan (the unpartitioned embeddings scan has no numPartitions
    # metric; Exchange/AQEShuffleRead nodes are excluded by name)
    n_parts = None
    for node in nodes:
        if (node.nodeName().startswith("Scan parquet")
                and node.metrics().contains("numPartitions")):
            n_parts = node.metrics().apply("numPartitions").value()
            break
    assert n_parts == 2, f"expected 2 probed partitions, read {n_parts}"
    assert list(got_pdf["item_id"]) == list(mem["item_id"])
    assert list(got_pdf["adc_micro"]) == list(mem["adc_micro"])


def test_cms_never_undercounts_and_topk_exact(spark):
    """CMS point estimates are >= exact counts for EVERY distinct
    value (the hard guarantee), and with width >> distincts the top
    terms estimate exactly."""
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.sketches import cms_build

    vals = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [("d",)] * 1
    df = spark.createDataFrame(vals, "v string")
    sk = cms_build(df, "v", depth=4, width=64, hash_fn="md5")
    from charmpandas_spark.functions.dedup import hash64

    exact = df.groupBy("v").agg(F.count(F.lit(1)).alias("freq"))
    probes = (exact.select("v", "freq",
                           F.explode(F.expr("sequence(0, 3)")).alias("r"))
                   .select("v", "freq", "r",
                           F.pmod(hash64(F.col("v"), F.col("r"), "md5"),
                                  F.lit(64)).alias("bucket")))
    est = (probes.join(sk, ["r", "bucket"])
                 .groupBy("v", "freq").agg(F.min("cnt").alias("est"))
                 .collect())
    assert len(est) == 4
    for row in est:
        assert row.est >= row.freq  # never undercounts
        assert row.est <= row.freq + 86  # total mass bound (N=86)


def test_cms_heavy_check_gate_holds(spark, sf_dir):
    from charmpandas_spark.functions.sketches import cms_heavy_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cms_heavy_check(docs, "text", k=10, depth=4,
                          width=2048).collect()
    assert len(out) == 10
    assert all(r.ok for r in out)
    # top-k really are the heaviest: frequencies non-increasing order
    freqs = sorted((r.freq for r in out), reverse=True)
    assert freqs[0] >= freqs[-1] >= 1


def test_cms_sketch_mergeable(spark):
    """Summing two half-corpus sketches on (r, bucket) equals the
    whole-corpus sketch — the incremental/streaming maintenance path."""
    from pyspark.sql import functions as F

    from charmpandas_spark.functions.sketches import cms_build

    df = spark.createDataFrame([(f"w{i % 17}",) for i in range(200)],
                               "v string")
    a = df.filter(F.expr("length(v) >= 3"))
    b = df.filter(F.expr("length(v) < 3"))
    whole = cms_build(df, "v", depth=3, width=32, hash_fn="md5")
    merged = (cms_build(a, "v", depth=3, width=32, hash_fn="md5")
              .unionByName(cms_build(b, "v", depth=3, width=32,
                                     hash_fn="md5"))
              .groupBy("r", "bucket")
              .agg(F.sum("cnt").alias("cnt")))
    w = {(r.r, r.bucket): r.cnt for r in whole.collect()}
    m = {(r.r, r.bucket): r.cnt for r in merged.collect()}
    assert w == m


def test_audience_overlap_gate_and_exact_values(spark):
    """Planted overlap: A={1..100}, B={51..150}, C disjoint —
    n_both(A,B)=50, n_both with C = 0; estimates within the gate."""
    from charmpandas_spark.functions.sketches import \
        audience_overlap_check

    rows = ([("A", i) for i in range(1, 101)]
            + [("B", i) for i in range(51, 151)]
            + [("C", i) for i in range(1000, 1040)])
    df = spark.createDataFrame(rows, "seg string, uid long")
    out = {(r.set_a, r.set_b): r
           for r in audience_overlap_check(df, "seg", "uid").collect()}
    assert len(out) == 3
    assert out[("A", "B")].n_both == 50
    assert out[("A", "C")].n_both == 0
    assert out[("B", "C")].n_both == 0
    assert all(r.ok for r in out.values())
    assert out[("A", "B")].n_a == 100 and out[("A", "B")].n_b == 100


def test_ivfpq_rerank_fixes_adc_order_with_exact_cosine(spark, sf_dir):
    """r9: two-stage IVFADC+R — the reranked top-k must (a) be a
    subset of the stage-1 ADC candidate set, (b) be ordered by the
    EXACT floor-1e4 cosine, and (c) rank a planted exact duplicate
    of the query first with cosine 1.0 (ADC could only approximate
    it; the exact stage pins it)."""
    from charmpandas_spark.functions.ivfpq import (
        ivfpq_build, ivfpq_search, ivfpq_search_rerank)
    from charmpandas_spark.functions.similarity import cosine_sim

    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    dup = emb.where(F.col("vec_id") == 7) \
             .withColumn("vec_id", F.lit(999_999).cast("long"))
    corpus = emb.unionByName(dup)
    codes, cents, books = ivfpq_build(
        corpus, "embedding", "vec_id", nlist=8, coarse_iters=1,
        m=8, codebook_k=16, pq_iters=1, coarse_cap=128, pq_cap=128)
    queries = emb.where(F.col("vec_id") == 7)
    cand = ivfpq_search(codes, cents, books, queries, "embedding",
                        "vec_id", k=20, nprobe=2).toPandas()
    got = ivfpq_search_rerank(codes, cents, books, queries, corpus,
                              "embedding", "vec_id", k=5, nprobe=2,
                              depth=20).toPandas()
    assert set(got.item_id) <= set(cand.item_id)
    assert got.loc[got["rank"] == 1, "item_id"].iloc[0] == 999_999
    assert got.loc[got["rank"] == 1, "cosine"].iloc[0] == 1.0
    ordered = got.sort_values("rank")
    assert list(ordered.cosine) == sorted(ordered.cosine,
                                          reverse=True)


def test_ivf_assign_matches_mllib(spark, sf_dir):
    """Frozen-codebook assignment (ivf_assign: broadcast HOF argmin,
    first-min tie-break) must reproduce MLlib transform's list ids
    on the same centroids — the parity the full-probe oracle cannot
    see (any partition of the corpus passes full probe)."""
    from charmpandas_spark.functions.ivf import ivf_assign, ivf_build

    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    assigned, centroids = ivf_build(emb, "embedding", "vec_id",
                                    nlist=8)
    want = {r["vec_id"]: r["__cps_list"] for r in
            assigned.select("vec_id", "__cps_list").collect()}
    got = {r["vec_id"]: r["__cps_list"] for r in
           ivf_assign(emb, "embedding", centroids)
           .select("vec_id", "__cps_list").collect()}
    assert got == want and len(want) > 0


def test_ivf_append_pruned_search(spark, sf_dir, tmp_path):
    """ivf_append (frozen centroids, partitioned parquet append) must
    leave the PRUNED search path equivalent to the in-memory search
    over the one-pass-assigned union — and pruning itself must
    survive the append (partition filter still on the scan)."""
    from charmpandas_spark.functions.ivf import (
        ivf_append, ivf_assign, ivf_build, ivf_read_search,
        ivf_search, ivf_write)

    emb = cps.read_table(spark, sf_dir, "embeddings").sdf
    initial = emb.where(F.col("vec_id") % 3 != 2)
    late = emb.where(F.col("vec_id") % 3 == 2)
    assigned, centroids = ivf_build(initial, "embedding", "vec_id",
                                    nlist=8)
    path = str(tmp_path / "ivf_inc")
    ivf_write(assigned, path)
    ivf_append(late, "embedding", centroids, path)

    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got_df = ivf_read_search(spark, path, centroids, "embedding",
                             "vec_id", q, k=5, nprobe=2)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cps_list" in plan
    got = got_df.toPandas().sort_values("vec_id").reset_index(drop=True)
    union = assigned.select("vec_id", "embedding", "__cps_list") \
        .unionByName(ivf_assign(late, "embedding", centroids)
                     .select("vec_id", "embedding", "__cps_list"))
    want = (ivf_search(union, centroids, "embedding", "vec_id", q,
                       k=5, nprobe=2)
            .toPandas().sort_values("vec_id").reset_index(drop=True))
    assert len(got) == 5
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert got["cosine"].tolist() == want["cosine"].tolist()
