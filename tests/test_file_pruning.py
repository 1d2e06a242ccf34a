"""Parquet file pruning at planning (``charmpandas_spark/jvm/FilePruning.scala``).

The session with the extension drops, at planning, every parquet file
whose footer min/max leave no row group for the scan's pushed filter;
the plain session lists them all and lets each task skip row groups.
Both run in child processes for the whole module (the ``sessions``
fixture). The rows must be the same; the files read must fall.
"""

import datetime as dt
import decimal
import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from charmpandas_spark import session

from .spark_child import ask

# column -> (arrow type, value in a file's range [lo, lo + 6), SQL literal)
COLUMNS = {
    "i": (pa.int32(), lambda x: x, str),
    "l": (pa.int64(), lambda x: x * 1_000_000_007,
          lambda v: f"CAST({v} AS BIGINT)"),
    "dt": (pa.date32(), lambda x: dt.date(2000, 1, 1) + dt.timedelta(x),
           lambda v: f"DATE'{v.isoformat()}'"),
    "ts": (pa.timestamp("us", tz="UTC"), lambda x: x * 3_600_000_000,
           lambda v: f"timestamp_micros(CAST({v} AS BIGINT))"),
    "dec": (pa.decimal128(9, 2), lambda x: decimal.Decimal(x) / 4,
            lambda v: f"CAST('{v}' AS DECIMAL(9,2))"),
    "d": (pa.float64(), lambda x: x / 2, lambda v: _double(v)),
    "s": (pa.string(), lambda x: "ab"[x % 2] + chr(ord("a") + x % 26),
          lambda v: f"'{v}'"),
}
# every double edge the reader's statistics treat specially
DOUBLE_EDGES = [math.nan, math.inf, -math.inf, -0.0]


def _double(v):
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"


@st.composite
def _files(draw):
    """Files of rows, each file's values drawn from its own narrow
    range so that min/max can exclude a filter; some files empty."""
    files, next_id = [], 0
    for _ in range(draw(st.integers(1, 4))):
        lo = draw(st.integers(-20, 20))
        rows = []
        for _ in range(draw(st.integers(0, 8))):
            row = {"id": next_id}
            next_id += 1
            for c, (_, value, _sql) in COLUMNS.items():
                x = draw(st.integers(lo, lo + 5))
                row[c] = draw(st.one_of(
                    st.none(), st.just(value(x)),
                    *([st.sampled_from(DOUBLE_EDGES)] if c == "d" else [])))
            rows.append(row)
        files.append((rows, draw(st.integers(1, 3))))
    return files


@st.composite
def _predicate(draw, depth=0):
    col = draw(st.sampled_from(sorted(COLUMNS) + ["p"]))
    if col == "p":
        return f"p = {draw(st.integers(0, 1))}"
    _, value, sql = COLUMNS[col]
    lit = draw(st.one_of(
        st.integers(-25, 25).map(value),
        *([st.sampled_from(DOUBLE_EDGES)] if col == "d" else [])))
    kind = draw(st.sampled_from(
        ["cmp", "cmp", "in", "null"] + (["starts"] if col == "s" else [])
        + (["and", "or", "not"] if depth < 2 else [])))
    if kind == "cmp":
        op = draw(st.sampled_from(["=", "<", "<=", ">", ">="]))
        return f"{col} {op} {sql(lit)}"
    if kind == "in":
        more = draw(st.lists(st.integers(-25, 25).map(value), max_size=3))
        return f"{col} IN ({', '.join(sql(v) for v in [lit] + more)})"
    if kind == "null":
        return f"{col} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
    if kind == "starts":
        return f"s LIKE '{lit[:draw(st.integers(1, 2))]}%'"
    if kind == "not":
        return f"NOT ({draw(_predicate(depth + 1))})"
    joiner = " AND " if kind == "and" else " OR "
    return joiner.join(f"({draw(_predicate(depth + 1))})" for _ in range(2))


def _write(files, path, partitioned):
    """One parquet file per entry, ``row_group_size`` rows per row
    group; under ``p=0``/``p=1`` directories when ``partitioned``."""
    os.makedirs(path)
    for k, (rows, group_rows) in enumerate(files):
        arrays = {"id": pa.array([r["id"] for r in rows], pa.int64())}
        for c, (t, *_rest) in COLUMNS.items():
            arrays[c] = pa.array([r[c] for r in rows], t)
        where = os.path.join(path, f"p={k % 2}") if partitioned else path
        os.makedirs(where, exist_ok=True)
        pq.write_table(pa.table(arrays), os.path.join(where, f"f{k}.parquet"),
                       row_group_size=group_rows)


@given(files=_files(), wheres=st.lists(_predicate(), min_size=1, max_size=4),
       partitioned=st.booleans())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pruned_rows_equal_unpruned_rows(sessions, tmp_path_factory, files,
                                         wheres, partitioned):
    path = str(tmp_path_factory.mktemp("prune") / "t")
    _write(files, path, partitioned)
    wheres = [w for w in wheres if partitioned or "p =" not in w] or ["id >= 0"]
    got, plain = ask(sessions[:2], {"path": path, "reads": wheres})
    for w, (rows, files_read), (want, plain_files) in zip(wheres, got, plain):
        assert rows == want, w
        assert files_read <= plain_files, w


@pytest.fixture(scope="module")
def clustered(sessions, tmp_path_factory):
    """20k ids written by ``write_clustered`` into files of 1000 rows."""
    path = str(tmp_path_factory.mktemp("clustered") / "t")
    ask(sessions[:1], {"cluster": path, "rows": 20_000, "file_rows": 1000})
    return path


def test_clustered_reads_plan_only_matching_files(sessions, clustered):
    n_files = len([f for f in os.listdir(clustered) if f.endswith(".parquet")])
    assert n_files >= 10
    wheres = ["id = 12345", "id >= 7000 AND id < 7048", "id IN (3, 4)",
              "id < 0", "v = 3"]
    got, plain = ask(sessions[:2], {"path": clustered, "reads": wheres})
    assert [r for r, _ in got] == [r for r, _ in plain]
    assert got[0][0] == [12345] and len(got[1][0]) == 48
    assert all(f <= 2 for _, f in got[:3]) and got[3][1] == 0, got
    # v is spread over every file: nothing to prune
    assert got[4][1] == n_files
    assert [f for _, f in plain] == [n_files] * len(wheres)


def test_rewritten_file_is_read_again(sessions, tmp_path):
    """Same path and size, new values, modification time moved by one
    nanosecond: the cached footer must not be used."""
    path = tmp_path / "t"
    path.mkdir()

    def write(name, keys):
        pq.write_table(pa.table({"id": pa.array(keys, pa.int64())}),
                       path / name, use_dictionary=False,
                       compression="NONE")

    write("a.parquet", range(0, 10))
    write("b.parquet", range(100, 110))
    req = {"path": str(path), "reads": ["id = 105", "id = 5"]}
    [got] = ask(sessions[:1], req)
    assert got == [[[105], 1], [[5], 1]]
    before = os.stat(path / "b.parquet")
    write("b.parquet", range(5, 15))
    os.utime(path / "b.parquet",
             ns=(before.st_atime_ns, before.st_mtime_ns + 1))
    after = os.stat(path / "b.parquet")
    assert after.st_size == before.st_size
    assert after.st_mtime_ns == before.st_mtime_ns + 1
    got, plain = ask(sessions[:2], req)
    assert got == [[[], 0], [[5, 5], 2]]
    assert [r for r, _ in plain] == [[], [5, 5]]


@pytest.mark.parametrize("ignore", ["false", "true"])
def test_unreadable_footer_behaves_as_without_pruning(sessions, tmp_path,
                                                      ignore):
    path = tmp_path / "t"
    path.mkdir()
    for k in range(3):
        pq.write_table(pa.table({"id": pa.array(range(10 * k, 10 * k + 10),
                                                pa.int64())}),
                       path / f"f{k}.parquet")
    (path / "f3.parquet").write_bytes(b"PAR1" + b"\x00" * 200 + b"PAR1")
    req = {"path": str(path), "schema": "id BIGINT",
           "options": {"ignoreCorruptFiles": ignore},
           "reads": ["id = 15", "id > 100"]}
    got, plain = ask(sessions[:2], req)
    assert [r for r, _ in got] == [r for r, _ in plain]
    if ignore == "true":
        assert got == [[[15], 2], [[], 1]]  # f1 and the unreadable file
    else:
        assert isinstance(got[0][0], str)  # the read's error condition


def test_index_is_planned_only_for_parquet_file_listings(sessions, tmp_path):
    req = {"plans": True, "path": str(tmp_path / "t"),
           "json": str(tmp_path / "j")}
    pq.write_table(pa.table({"id": pa.array(range(20), pa.int64()),
                             "v": pa.array([i % 3 for i in range(20)],
                                           pa.int64())}),
                   tmp_path / "t")
    got, plain = ask(sessions[:2], req)
    assert "Location: PruningFileIndex [" in got["parquet"]
    assert "Location: InMemoryFileIndex [" in plain["parquet"]
    for facts in (got, plain):
        assert "Location: InMemoryFileIndex [" in facts["json"]
        assert "Location: CatalogFileIndex [" in facts["catalog"]
    # two reads of one path plan equal scans: their exchange is reused
    assert got["reused"] == plain["reused"] >= 1
    assert got["same_result"] and plain["same_result"]
    assert got["idempotent"] is True and plain["idempotent"] is None


def test_editing_any_extension_source_changes_the_jar_key(no_gateway,
                                                          tmp_path):
    sources = []
    for p in session._PARAM_SOURCES:
        sources.append(str(tmp_path / os.path.basename(p)))
        shutil.copy(p, sources[-1])
    assert {os.path.basename(p) for p in sources} >= {
        "FilePruning.scala", "ParamLiterals.scala"}
    no_gateway.setattr(session, "_PARAM_SOURCES", sources)
    plan = session._cds_launch("local[2]")
    if plan is None:
        pytest.skip("no Spark jars dir or java binary to key an archive")
    keys = {plan.param_key}
    for p in sources:
        with open(p, "a") as f:
            f.write("// edited\n")
        keys.add(session._cds_launch("local[2]").param_key)
    assert len(keys) == len(sources) + 1
