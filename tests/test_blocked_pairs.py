"""The blocked pair-join core (``dedup._blocked_pairs``) against a
pure-Python nested loop, and the skew split of the MinHash index's
incremental append."""

import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from charmpandas_spark.functions.dedup import _blocked_pairs

#: block rows (doc, key): a doc may sit in several blocks, and a
#: repeated (doc, key) row makes a pair share one block twice
ROWS = st.lists(st.tuples(st.integers(0, 7), st.integers(0, 3)),
                min_size=0, max_size=24)
_SETTINGS = dict(max_examples=6, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _w(doc):
    """A carried column: any function of the doc."""
    return doc * 7 % 5


def _frame(spark, rows):
    return spark.createDataFrame(
        [(d, k, _w(d)) for d, k in rows], "doc long, key long, w long")


def _pairs(a_rows, b_rows, self_mode):
    """Every (row of a, row of b) sharing a key, as (doc_a, doc_b),
    with the canonical pair rule applied in self mode."""
    return [(x, y) for x, kx in a_rows for y, ky in b_rows
            if kx == ky and (x < y or not self_mode)]


def _even(p):
    """A verify that reads only carried columns and drops them."""
    return (p.where((F.col("w_a") + F.col("w_b")) % 2 == 0)
             .select("doc_a", "doc_b"))


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_self_mode_matches_nested_loop(spark, rows):
    df = _frame(spark, rows)
    loop = _pairs(rows, rows, self_mode=True)

    got = [tuple(r) for r in _blocked_pairs(df, ["key"], carry=("w",))
           .select("doc_a", "doc_b", "w_a", "w_b").collect()]
    assert all(a < b for a, b, _, _ in got)
    assert len(got) == len(set(got))  # one row per pair
    assert sorted(got) == sorted(
        {(a, b, _w(a), _w(b)) for a, b in loop})

    counted = _blocked_pairs(df, ["key"], count="n").collect()
    assert Counter({(r["doc_a"], r["doc_b"]): r["n"] for r in counted}) \
        == Counter(loop)

    # verify before the dedup exchange == the same verify applied to
    # the deduped pairs above
    before = _blocked_pairs(df, ["key"], carry=("w",), verify=_even)
    assert sorted(tuple(r) for r in before.collect()) == sorted(
        (a, b) for a, b, wa, wb in got if (wa + wb) % 2 == 0)


@given(a_rows=ROWS, b_rows=ROWS)
@settings(**_SETTINGS)
def test_cross_mode_pairs_only_across_sides(spark, a_rows, b_rows):
    got = [tuple(r) for r in _blocked_pairs(
        _frame(spark, a_rows), ["key"], b=_frame(spark, b_rows))
        .collect()]
    assert len(got) == len(set(got))
    # ids drawn from one small range overlap between the sides; an id
    # on both sides sharing a block pairs with itself
    assert sorted(got) == sorted(set(_pairs(a_rows, b_rows, False)))


def test_cross_mode_reports_id_on_both_sides(spark):
    a = _frame(spark, [(1, 0), (2, 1)])
    b = _frame(spark, [(1, 0), (3, 1)])
    got = {tuple(r) for r in _blocked_pairs(a, ["key"], b=b).collect()}
    assert got == {(1, 1), (2, 3)}


def _bucket_files(path):
    return {d: len([f for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")])
            for d in os.listdir(path) if d.startswith("bucket=")}


def test_incremental_append_splits_hot_bucket(spark, tmp_path):
    """``append_novel`` rebalances the novel band rows by bucket: a
    batch whose rows pile into a few buckets (here 240 copies of one
    page) is split across several files per hot bucket once a bucket
    outgrows AQE's advisory partition size, and matches and the next
    batch's probe equal those of a run at the default size (one file
    per bucket)."""
    from charmpandas_spark.functions.dedup import (
        minhash_dedup_incremental, minhash_index_write, release)

    words = " ".join(f"w{i}" for i in range(120))
    hist = spark.createDataFrame(
        [(1, "history page about topic one " + words),
         (2, "a different history page with other words entirely")],
        "doc_id bigint, t string")
    batch = spark.createDataFrame(
        [(100 + i, "boilerplate page repeated " + words[::-1])
         for i in range(240)]
        + [(10, "history page about topic one " + words + " extra")],
        "doc_id bigint, t string")
    nxt = spark.createDataFrame(
        [(900, "boilerplate page repeated " + words[::-1] + " x")],
        "doc_id bigint, t string")
    kw = dict(threshold=0.7, num_buckets=8)

    def run(path):
        minhash_index_write(hist, "t", "doc_id", path, num_buckets=8)
        before = _bucket_files(path)
        out = minhash_dedup_incremental(spark, batch, path, "t",
                                        "doc_id", append_novel=True, **kw)
        matches = sorted(tuple(r) for r in out.collect())
        release(out)
        after = _bucket_files(path)
        added = {d: n - before.get(d, 0) for d, n in after.items()}
        probe = minhash_dedup_incremental(spark, nxt, path, "t",
                                          "doc_id", **kw)
        nxt_matches = sorted(tuple(r) for r in probe.collect())
        release(probe)
        return matches, nxt_matches, added

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    base = run(str(tmp_path / "default"))
    spark.conf.set(key, "16k")
    try:
        split = run(str(tmp_path / "small"))
    finally:
        spark.conf.set(key, old)

    assert base[0] == split[0] and (10, 1) in {m[:2] for m in base[0]}
    assert base[1] == split[1] and len(base[1]) >= 1
    assert all(n <= 1 for n in base[2].values()), base[2]
    assert max(split[2].values()) > 1, split[2]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
