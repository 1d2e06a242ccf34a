"""Stream-stream and stream-static join equivalence vs batch."""

import pytest

from pyspark.sql import functions as F

import charmpandas_spark as cps


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return cps.read_table(spark, sf_dir, "events").sdf


def test_stream_static_join(spark, events, tmp_path):
    from charmpandas_spark.streaming.joins import stream_static_join
    from charmpandas_spark.streaming.windows import stream_from_parquet

    src = str(tmp_path / "ss_src")
    events.limit(1000).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.1)],
        ["event_type", "weight"])
    stream = stream_from_parquet(spark, src)
    joined = stream_static_join(stream, dim, "event_type")
    q = (joined.writeStream.format("memory").queryName("ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(weight) AS matched FROM ss_join"
    ).first()
    batch = spark.read.parquet(src).join(dim, "event_type", "left")
    assert got["n"] == batch.count()
    assert got["matched"] == batch.filter("weight IS NOT NULL").count()


def test_stream_stream_join_matches_batch(spark, events, tmp_path):
    from charmpandas_spark.streaming.joins import stream_stream_join
    from charmpandas_spark.streaming.windows import stream_from_parquet

    src = str(tmp_path / "s2_src")
    events.limit(2000).coalesce(1).write.parquet(src)
    clicks_b = (spark.read.parquet(src)
                .filter(F.col("event_type") == "click")
                .select("user_id", "ts", "event_id"))
    views_b = (spark.read.parquet(src)
               .filter(F.col("event_type") == "view")
               .select("user_id", "ts", "event_id"))

    stream = stream_from_parquet(spark, src)
    clicks_s = stream.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    views_s = stream.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    joined = stream_stream_join(clicks_s, views_s, "user_id",
                                max_delay="6 hours", watermark="30 days")
    q = (joined.writeStream.format("memory").queryName("s2_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) FROM s2_join").first()[0]

    want = clicks_b.alias("a").join(
        views_b.alias("b"),
        on=[F.col("a.user_id") == F.col("b.user_id"),
            F.col("b.ts") <= F.col("a.ts"),
            F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 6 hours")],
        how="inner").count()
    assert got == want
    cols = spark.table("s2_join").columns
    assert "ts_l" in cols and "ts_r" in cols  # _l/_r suffix convention

def test_stream_stream_join_schema_independent_of_lineage(spark):
    """An inner join of two filtered views of ONE frame has the same
    column order and rows as the same join over two independently
    built frames. Both sides sharing lineage makes ``lw[key]`` and
    ``rw[key]`` one attribute, so a post-join ``drop(rw[key])`` would
    drop the LEFT key and move the kept one behind the left columns."""
    from charmpandas_spark.streaming.joins import stream_stream_join

    rows = [(100, 0, "click"), (100, -600, "view"), (200, 0, "click"),
            (200, 60, "view"), (300, 0, "click"), (300, -60, "view"),
            (400, -60, "view")]

    def frame(data):
        return (spark.createDataFrame(
                    data, "user_id long, s long, kind string")
                .select("user_id",
                        F.timestamp_seconds(F.col("s") + 1_700_000_000)
                        .alias("ts"), "kind"))

    one = frame(rows)
    shared = stream_stream_join(one.filter(F.col("kind") == "click"),
                                one.filter(F.col("kind") == "view"),
                                "user_id")
    apart = stream_stream_join(frame([r for r in rows if r[2] == "click"]),
                               frame([r for r in rows if r[2] == "view"]),
                               "user_id")
    assert shared.columns == apart.columns == [
        "user_id", "ts_l", "kind_l", "ts_r", "kind_r"]
    got = sorted(shared.collect())
    assert got == sorted(apart.collect())
    assert [r["user_id"] for r in got] == [100, 300]


def test_stream_stream_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER variant: matched rows join, unmatched left rows
    emit null-padded once the (sentinel-advanced) watermark passes.
    Single-source replay: one early click with a matching view, one
    early click without, plus a far-future sentinel row that drags
    the watermark past both so the outer null flushes before
    availableNow stops."""
    import glob
    import os
    import shutil

    from charmpandas_spark.streaming.joins import stream_stream_join_outer
    from charmpandas_spark.streaming.windows import stream_from_parquet

    base = 1_700_000_000_000  # ms
    rows = [
        (1, 100, base),                 # click, has view 10 min before
        (2, 200, base + 60_000),        # click, NO matching view
        (3, 100, base - 600_000),       # view for user 100
    ]
    src = str(tmp_path / "s2o_src")
    os.makedirs(src)
    # three files in time order, then two sentinel files (watermark
    # push + flush batch), forced mtimes so the file source delivers
    # them last
    for i, (eid, uid, ms) in enumerate(sorted(rows, key=lambda r: r[2])):
        df = spark.createDataFrame([(eid, uid, ms)],
                                   "event_id long, user_id long, ts_ms long") \
            .select("event_id", "user_id",
                    F.timestamp_millis(F.col("ts_ms")).alias("ts"))
        d = str(tmp_path / f"s2o_{i}")
        df.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(d + "/*.parquet")[0], f"{src}/m{i}.parquet")
        os.utime(f"{src}/m{i}.parquet", (1000 + i, 1000 + i))
    # THREE sentinel batches (not two): outer-join state cleanup runs
    # with the watermark from the PREVIOUS batch's data, so the flush
    # needs push -> apply -> emit
    for j in range(3):
        sent = spark.createDataFrame([(-1, -1, base + (j + 5) * 3_600_000)],
                                     "event_id long, user_id long, ts_ms long") \
            .select("event_id", "user_id",
                    F.timestamp_millis(F.col("ts_ms")).alias("ts"))
        d = str(tmp_path / f"s2o_sent{j}")
        sent.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(d + "/*.parquet")[0],
                    f"{src}/zz{j}.parquet")
        os.utime(f"{src}/zz{j}.parquet", (2000 + j, 2000 + j))

    stream = stream_from_parquet(spark, src)
    clicks = stream.filter(F.col("event_id").isin(1, 2, -1))
    views = stream.filter(~F.col("event_id").isin(1, 2))
    out = stream_stream_join_outer(clicks, views, "user_id",
                                   max_delay="1 hour", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("s2o_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r["event_id_l"]: r["event_id_r"]
           for r in spark.table("s2o_join")
                         .where(F.col("user_id") != -1).collect()}
    assert got == {1: 3, 2: None}  # matched pair + null-padded click


def test_stream_stream_full_join_emits_unmatched_both_sides(
        spark, tmp_path):
    """FULL OUTER variant: matched pair joins, an unmatched click
    emits right-null, an unmatched view emits LEFT-null, and the
    coalesced key survives on both null-padded shapes."""
    import glob
    import os
    import shutil

    from charmpandas_spark.streaming.joins import stream_stream_join_full
    from charmpandas_spark.streaming.windows import stream_from_parquet

    base = 1_700_000_000_000  # ms
    rows = [
        (1, 100, base),                 # click, has view 10 min before
        (2, 200, base + 60_000),        # click, NO matching view
        (3, 100, base - 600_000),       # view for user 100 (matched)
        (4, 300, base + 120_000),       # view, NO click follows
    ]
    src = str(tmp_path / "s2f_src")
    os.makedirs(src)
    for i, (eid, uid, ms) in enumerate(sorted(rows, key=lambda r: r[2])):
        df = spark.createDataFrame([(eid, uid, ms)],
                                   "event_id long, user_id long, ts_ms long") \
            .select("event_id", "user_id",
                    F.timestamp_millis(F.col("ts_ms")).alias("ts"))
        d = str(tmp_path / f"s2f_{i}")
        df.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(d + "/*.parquet")[0], f"{src}/m{i}.parquet")
        os.utime(f"{src}/m{i}.parquet", (1000 + i, 1000 + i))
    for j in range(3):
        sent = spark.createDataFrame([(-1, -1, base + (j + 5) * 3_600_000)],
                                     "event_id long, user_id long, ts_ms long") \
            .select("event_id", "user_id",
                    F.timestamp_millis(F.col("ts_ms")).alias("ts"))
        d = str(tmp_path / f"s2f_sent{j}")
        sent.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(d + "/*.parquet")[0],
                    f"{src}/zz{j}.parquet")
        os.utime(f"{src}/zz{j}.parquet", (2000 + j, 2000 + j))

    stream = stream_from_parquet(spark, src)
    clicks = stream.filter(F.col("event_id").isin(1, 2, -1))
    views = stream.filter(~F.col("event_id").isin(1, 2))
    out = stream_stream_join_full(clicks, views, "user_id",
                                  max_delay="1 hour", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("s2f_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    res = spark.table("s2f_join").where(F.col("user_id") != -1).collect()
    got = {(r["event_id_l"], r["event_id_r"]): r["user_id"] for r in res}
    assert got == {
        (1, 3): 100,      # matched pair
        (2, None): 200,   # left-only click, right null-padded
        (None, 4): 300,   # right-only view, LEFT null-padded,
    }                     # key coalesced from the right side

    # RIGHT OUTER mirror on the same replayed source: matched pair +
    # the right-only view; the left-only click does NOT appear
    from charmpandas_spark.streaming.joins import stream_stream_join_right
    stream2 = stream_from_parquet(spark, src)
    out_r = stream_stream_join_right(
        stream2.filter(F.col("event_id").isin(1, 2, -1)),
        stream2.filter(~F.col("event_id").isin(1, 2)),
        "user_id", max_delay="1 hour", watermark="1 hour")
    qr = (out_r.writeStream.format("memory").queryName("s2r_join")
          .outputMode("append").trigger(availableNow=True).start())
    qr.awaitTermination(180)
    got_r = {(r["event_id_l"], r["event_id_r"]): r["user_id"]
             for r in spark.table("s2r_join")
                           .where(F.col("user_id") != -1).collect()}
    assert got_r == {(1, 3): 100, (None, 4): 300}
