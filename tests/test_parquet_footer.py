"""``read_parquet``'s footer-derived schema: the zero-job fast path must
give exactly what Spark's own schema inference gives, and every
footer off its allow-list must fall back to that inference.

The reference ``ntz_to_ltz(spark.read.parquet(p))`` is what
``read_parquet`` returned before the fast path existed."""

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

import charmpandas_spark as cps
from charmpandas_spark.sources.parquet import (
    _data_file, _footer_schema, write_clustered)
from charmpandas_spark.timestamps import ntz_to_ltz

from .conftest import SF_DIR


def _inferred(spark, *paths, ns=()):
    """Spark's inference; the TIMESTAMP(NANOS) columns ``ns``, which it
    rejects, read as longs and rebuilt as microsecond timestamps."""
    if not ns:
        return ntz_to_ltz(spark.read.parquet(*paths))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try:
        want = ntz_to_ltz(spark.read.parquet(*paths).withColumns(
            {c: F.expr(f"timestamp_micros(`{c}` div 1000)") for c in ns}))
        want = want.cache()
        want.count()
    finally:
        spark.conf.unset(key)
    return want


def _comparable(sdf):
    """Map columns as sorted entry arrays: set operations reject maps."""
    maps = {f.name: F.array_sort(F.map_entries(f.name))
            for f in sdf.schema.fields if isinstance(f.dataType, MapType)}
    return sdf.withColumns(maps) if maps else sdf


def _assert_same(got, want):
    """Same schema and the same multiset of rows."""
    assert got.schema == want.schema
    got, want = _comparable(got), _comparable(want)
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0


def _jobs(spark, fn):
    """(fn(), number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fast(path):
    """Whether ``path`` takes the footer schema that equals inference
    (default confs)."""
    f = _data_file(path)
    footer = f and _footer_schema(f, False, True)
    return footer is not None and footer[2]


# ---------------------------------------------------------------------------
# fast path == inference over real tables
# ---------------------------------------------------------------------------

#: every table of every scale factor next to the tests' one
_ROOT = os.path.dirname(SF_DIR.rstrip("/"))
TESTDATA = sorted(glob.glob(os.path.join(_ROOT, "*", "*.parquet")))


@pytest.mark.skipif(not TESTDATA, reason="no test data")
@pytest.mark.parametrize(
    "path", TESTDATA, ids=[os.path.relpath(p, _ROOT) for p in TESTDATA])
def test_testdata_tables_match_inference(spark, path):
    _assert_same(cps.read_parquet(spark, path).sdf, _inferred(spark, path))
    # every flat table takes the fast path; list columns fall back
    assert _fast(path) == ("embeddings" not in path)


def test_perfbench_generated_tables_match_inference(spark, tmp_path):
    from perfbench import gen

    paths = gen.write_tables(gen.tpch_tables(seed=3, sf=0.001),
                             str(tmp_path / "tpch"))
    corpus, _truth = gen.corpus(seed=3, n_docs=60)
    paths["corpus"] = str(tmp_path / "corpus.parquet")
    pq.write_table(corpus, paths["corpus"])
    for name, p in paths.items():
        assert _fast(p), name
        _assert_same(cps.read_parquet(spark, p).sdf, _inferred(spark, p))


@pytest.mark.parametrize("partition_by", [None, "l_linestatus"])
def test_write_clustered_outputs_match_inference(spark, sf_dir, tmp_path,
                                                 partition_by):
    out = str(tmp_path / "clustered")
    li = cps.read_table(spark, sf_dir, "lineitem")
    write_clustered(
        li, out, cluster_by="l_orderkey", partition_by=partition_by,
        num_files=3)
    # partition columns live in directory names: only inference sees them
    assert _fast(out) == (partition_by is None)
    _assert_same(cps.read_parquet(spark, out).sdf, _inferred(spark, out))


def test_spark_written_timestamps_read_back(spark, tmp_path):
    """Spark writes TimestampType as INT96, which pyarrow reports as
    ``timestamp[ns]``; read through the footer's Spark schema it must
    not take the TIMESTAMP(NANOS) rebuild."""
    out = str(tmp_path / "spark_ts")
    spark.range(3).withColumn("ts", F.timestamp_micros("id")) \
        .write.parquet(out)
    f = glob.glob(os.path.join(out, "*.parquet"))[0]
    assert pq.read_metadata(f).schema.column(1).physical_type == "INT96"
    assert _fast(out)
    _assert_same(cps.read_parquet(spark, out).sdf, spark.read.parquet(out))


def test_int96_without_spark_schema_falls_back(spark, tmp_path):
    p = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"ts": pa.array([0, 10**9, None],
                                            pa.timestamp("ns"))}),
                   p, use_deprecated_int96_timestamps=True)
    assert not _fast(p)
    _assert_same(cps.read_parquet(spark, p).sdf, _inferred(spark, p))


def test_multipath_equal_and_different_footers(spark, tmp_path):
    a, b, c = (str(tmp_path / f"{n}.parquet") for n in "abc")
    pq.write_table(pa.table({"id": [1, 2], "v": ["x", "y"]}), a)
    pq.write_table(pa.table({"id": [3], "v": ["z"]}), b)
    pq.write_table(pa.table({"id": [4], "w": [1.5]}), c)
    for paths in ([a, b], [a, c], [c, a], [str(tmp_path / "*.parquet")]):
        _assert_same(cps.read_parquet(spark, paths).sdf,
                     _inferred(spark, *paths))
    # globs are left to Spark's listing
    assert not _fast(str(tmp_path / "?.parquet"))


def test_missing_path_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException):
        cps.read_parquet(spark, str(tmp_path / "missing.parquet"))


# ---------------------------------------------------------------------------
# fast path == inference over hypothesis-made arrow schemas
# ---------------------------------------------------------------------------

#: (arrow type, on the allow-list) — parquet writes each as pyarrow does
_TYPES = [
    (pa.int8(), True), (pa.int16(), True), (pa.int32(), True),
    (pa.int64(), True), (pa.float32(), True), (pa.float64(), True),
    (pa.bool_(), True), (pa.string(), True), (pa.large_string(), True),
    (pa.binary(), True), (pa.date32(), True),
    (pa.decimal128(9, 2), True), (pa.decimal128(38, 10), True),
    (pa.timestamp("us"), True), (pa.timestamp("ms"), True),
    (pa.timestamp("us", tz="UTC"), True),
    (pa.timestamp("ms", tz="America/New_York"), True),
    (pa.uint8(), False), (pa.uint32(), False), (pa.uint64(), False),
    (pa.dictionary(pa.int32(), pa.string()), False),
    (pa.list_(pa.int64()), False),
    (pa.struct([("x", pa.int32())]), False),
    (pa.map_(pa.string(), pa.int64()), False),
    # the footer reports the stored type: MILLIS and DATE
    (pa.timestamp("s"), True), (pa.date64(), True),
    (pa.float16(), False), (pa.time32("ms"), False),
    (pa.duration("us"), False), (pa.binary(4), False),
    (pa.large_binary(), False),
    # TIMESTAMP(NANOS): inference rejects it, so even off the list the
    # read takes an explicit schema
    (pa.timestamp("ns"), True),
]


def _column(draw, typ, n):
    """A pyarrow array of ``n`` values (some null) of ``typ``."""
    nulls = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    ints = draw(st.lists(st.integers(0, 100), min_size=n, max_size=n))
    vals = [None if z else i for z, i in zip(nulls, ints)]
    if pa.types.is_dictionary(typ):
        return pa.array([None if v is None else str(v) for v in vals],
                        pa.string()).dictionary_encode()
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return pa.array([None if v is None else f"s{v}" for v in vals], typ)
    if (pa.types.is_binary(typ) or pa.types.is_large_binary(typ)
            or pa.types.is_fixed_size_binary(typ)):
        return pa.array([None if v is None else b"%04d" % v for v in vals],
                        typ)
    if pa.types.is_boolean(typ):
        return pa.array([None if v is None else v % 2 == 0 for v in vals],
                        typ)
    if pa.types.is_list(typ):
        return pa.array([None if v is None else [v, v + 1] for v in vals],
                        typ)
    if pa.types.is_struct(typ):
        return pa.array([None if v is None else {"x": v} for v in vals],
                        typ)
    if pa.types.is_map(typ):
        return pa.array([None if v is None else [("k", v)] for v in vals],
                        typ)
    if pa.types.is_decimal(typ):
        import decimal
        return pa.array([None if v is None else decimal.Decimal(v)
                         for v in vals], typ)
    if pa.types.is_timestamp(typ):
        return pa.array([None if v is None else v * 10**9 // 7
                         for v in vals], pa.int64()).cast(typ)
    if pa.types.is_date32(typ) or pa.types.is_time32(typ):
        return pa.array([None if v is None else v * 97 for v in vals],
                        pa.int32()).cast(typ)
    if pa.types.is_date64(typ):
        return pa.array([None if v is None else v * 86_400_000
                         for v in vals], pa.int64()).cast(typ)
    return pa.array(vals, pa.int64()).cast(typ)


@st.composite
def _tables(draw):
    n_cols = draw(st.integers(1, 4))
    names = draw(st.lists(st.sampled_from(["a", "A", "b", "c_1", "C_1"]),
                          min_size=n_cols, max_size=n_cols, unique=True))
    picks = [draw(st.sampled_from(_TYPES)) for _ in names]
    if draw(st.booleans()):  # half the tables carry a NANOS column
        picks[0] = (pa.timestamp("ns"), True)
    n = draw(st.integers(0, 5))
    table = pa.table({nm: _column(draw, t, n)
                      for nm, (t, _ok) in zip(names, picks)})
    allowed = (all(ok for _t, ok in picks)
               and len({nm.lower() for nm in names}) == len(names))
    ns = [nm for nm, (t, _ok) in zip(names, picks)
          if t == pa.timestamp("ns")]
    return table, allowed, ns


@given(spec=_tables())
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_arrow_schemas_match_inference(spark, tmp_path_factory, spec):
    table, allowed, ns = spec
    p = str(tmp_path_factory.mktemp("arrow") / "t.parquet")
    pq.write_table(table, p)
    assert _fast(p) == allowed
    try:
        want = _inferred(spark, p, ns=ns)
        want.count()
    except Exception as e:  # e.g. case-colliding names
        with pytest.raises(type(e)):
            cps.read_parquet(spark, p).sdf.count()
        return
    _assert_same(cps.read_parquet(spark, p).sdf, want)


@pytest.mark.parametrize("version", ["2.6", "2.4"])
def test_nanos_timestamps_match_long_inference(spark, tmp_path, version):
    """TIMESTAMP(NANOS), which Spark's inference rejects, reads as the
    microsecond timestamps of the raw long; a ``timestamp[ns]`` stored
    as MICROS (format 2.4) is an ordinary timestamp column."""
    p = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([1_500_000_000, None, 7_000], pa.timestamp("ns")),
    }), p, version=version)
    got = cps.read_parquet(spark, p).sdf
    want = _inferred(spark, p, ns=["ts"] if version == "2.6" else [])
    _assert_same(got, want)
    want.unpersist()


@pytest.mark.parametrize("case", ["list", "merge_schema", "glob", "brackets",
                                  "file_uri", "multipath"])
def test_nanos_files_off_the_fast_path(spark, tmp_path, case):
    """Inference cannot read TIMESTAMP(NANOS), so an ns file that
    leaves the fast path still reads through an explicit schema: a
    pandas-style table with an embedding list column, ``merge_schema``,
    globs, ``file:`` URIs and multi-path reads of equal footers."""
    d = tmp_path / "ns"
    d.mkdir()
    cols = {"ts": pa.array([1_500_000_000, None, 7_000], pa.timestamp("ns")),
            "id": pa.array([1, 2, 3], pa.int64())}
    if case == "list":
        cols["emb"] = pa.array([[0.5, 1.0], None, [2.0]],
                               pa.list_(pa.float32()))
    for name in ("a", "b"):
        pq.write_table(pa.table(cols), str(d / f"{name}.parquet"))
    paths = {"list": [str(d / "a.parquet")],
             "merge_schema": [str(d)],
             "glob": [str(d / "*.parquet")],
             "brackets": [str(d / "[ab].parquet")],
             "file_uri": [(d / "a.parquet").as_uri()],
             "multipath": [str(d / "a.parquet"), str(d / "b.parquet")]}[case]
    got = cps.read_parquet(spark, paths if len(paths) > 1 else paths[0],
                           merge_schema=case == "merge_schema").sdf
    want = _inferred(spark, *paths, ns=["ts"])
    _assert_same(got, want)
    want.unpersist()


@pytest.mark.parametrize("confs", [
    {"spark.sql.parquet.binaryAsString": "true"},
    # tz-less columns then read as instants, not as shifted wall clocks
    {"spark.sql.parquet.inferTimestampNTZ.enabled": "false",
     "spark.sql.session.timeZone": "America/New_York"}])
def test_inference_confs_are_honoured(spark, tmp_path, confs):
    p = str(tmp_path / "conf.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", None], pa.binary()),
                             "ts": pa.array([1, None], pa.timestamp("us"))}),
                   p)
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        _assert_same(cps.read_parquet(spark, p).sdf, _inferred(spark, p))
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# the performance property: no schema-inference job on the fast path
# ---------------------------------------------------------------------------

def test_read_parquet_job_count(spark, sf_dir, tmp_path):
    allow_listed = os.path.join(sf_dir, "nation.parquet")
    spark_written = str(tmp_path / "spark_written")
    spark.range(5).withColumn("ts", F.timestamp_micros("id")) \
        .write.parquet(spark_written)
    fallback = os.path.join(sf_dir, "embeddings.parquet")

    assert _jobs(spark, lambda: cps.read_parquet(spark, allow_listed))[1] == 0
    assert _jobs(spark, lambda: cps.read_parquet(spark, spark_written))[1] == 0
    assert _jobs(spark, lambda: cps.read_parquet(spark, fallback))[1] <= 1
