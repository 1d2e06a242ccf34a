"""The session extension that passes filter comparison values to
generated code by reference (``charmpandas_spark/jvm``).

Two sessions run in child processes for the whole module (the
``sessions`` fixture): one maps the start-up cache that a first
session built (class-data archive and extension jar), the other
starts plainly because its Spark conf dir holds a real file. The
in-process test session may or may not have the extension, depending
on the user's cache, so it is not used here.
"""

import datetime as dt
import glob
import math
import os
import re
import shutil
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from charmpandas_spark import session

from .spark_child import ask, run_child

def _jar(cache):
    """(path, key) of the one extension jar in ``cache``."""
    jars = glob.glob(os.path.join(str(cache), "charmpandas_spark",
                                  "params-*.jar"))
    assert len(jars) == 1, jars
    return jars[0], os.path.basename(jars[0])[len("params-"):-len(".jar")]


def test_first_session_builds_the_jar(jar_cache):
    cache, out, _ = jar_cache
    assert out["extensions"] is None
    assert session._is_param_jar(*_jar(cache))


def test_caller_jars_and_extensions_are_kept(sessions):
    hello = sessions[2]
    assert hello["extensions"] == ("org.example.CallerExtension,"
                                  + session._PARAM_EXTENSION)
    jars = hello["jars"].split(",")
    assert len(jars) == 2 and jars[0].endswith("caller.jar")
    assert re.fullmatch(r"local:/.*/params-\w+\.jar", jars[1])


# -- comparisons: every value of every type, with and without -------------

I8, I16, I32, I64 = (2 ** 7, 2 ** 15, 2 ** 31, 2 ** 63)
F32 = 3.4028234663852886e38
US_MIN = int((dt.datetime(1, 1, 1) - dt.datetime(1970, 1, 1))
             / dt.timedelta(microseconds=1))
US_MAX = int((dt.datetime(9999, 12, 31, 23, 59, 59, 999999)
              - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))
FLOAT_EDGES = [math.nan, 0.0, -0.0, math.inf, -math.inf]

# column -> (arrow type, SQL type, value strategy, edge values)
COLUMNS = {
    "b": (pa.int8(), "TINYINT", st.integers(-I8, I8 - 1), [-I8, I8 - 1]),
    "s": (pa.int16(), "SMALLINT", st.integers(-I16, I16 - 1),
          [-I16, I16 - 1]),
    "i": (pa.int32(), "INT", st.integers(-I32, I32 - 1), [-I32, I32 - 1]),
    "l": (pa.int64(), "BIGINT", st.integers(-I64, I64 - 1), [-I64, I64 - 1]),
    "f": (pa.float32(), "FLOAT", st.floats(width=32),
          FLOAT_EDGES + [-F32, F32]),
    "d": (pa.float64(), "DOUBLE", st.floats(),
          FLOAT_EDGES + [-1.7976931348623157e308, 1.7976931348623157e308]),
    "dt": (pa.date32(), "DATE", st.dates(),
           [dt.date.min, dt.date.max, dt.date(1970, 1, 1)]),
    "ts": (pa.timestamp("us", tz="UTC"), "TIMESTAMP",
           st.integers(US_MIN, US_MAX), [US_MIN, US_MAX, 0]),
}
OPS = ["=", "<>", "<", "<=", ">", ">=", "<=>"]
MIRROR = {"=": "=", "<>": "<>", "<": ">", "<=": ">=", ">": "<", ">=": "<=",
          "<=>": "<=>"}


def _values(col):
    _, _, values, edges = COLUMNS[col]
    return st.one_of(values, st.sampled_from(edges))


def _sql(col, v):
    sql_type = COLUMNS[col][1]
    if col == "dt":
        return f"DATE'{v.isoformat()}'"
    if col == "ts":
        return f"timestamp_micros(CAST('{v}' AS BIGINT))"
    if isinstance(v, float) and not math.isfinite(v):
        v = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else
                                         "-Infinity")
    return f"CAST('{v}' AS {sql_type})"


def _key(v):
    """Spark's order: NaN equals NaN and is above every other value,
    -0.0 equals 0.0."""
    if isinstance(v, float) and math.isnan(v):
        return (1, 0.0)
    return (0, v)


def _holds(v, op, lit):
    if v is None:
        return False  # null compares to null, and <=> to a value: false
    a, b = _key(v), _key(lit)
    return {"=": a == b, "<=>": a == b, "<>": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b}[op]


@st.composite
def _cases(draw):
    n = draw(st.integers(0, 12))
    table = {c: draw(st.lists(st.one_of(st.none(), _values(c)),
                              min_size=n, max_size=n)) for c in COLUMNS}
    preds = []
    for _ in range(draw(st.integers(1, 6))):
        col = draw(st.sampled_from(sorted(COLUMNS)))
        present = [v for v in table[col] if v is not None]
        lit = draw(st.sampled_from(present) if present and draw(
            st.booleans()) else _values(col))
        preds.append((col, draw(st.sampled_from(OPS)), lit,
                      draw(st.booleans())))
    return table, preds


def _write(table, path):
    n = len(table["b"])
    arrays = {"id": pa.array(range(n), pa.int64())}
    for c, (t, *_rest) in COLUMNS.items():
        arrays[c] = pa.array(table[c], t)
    pq.write_table(pa.table(arrays), path)


@given(case=_cases())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_comparisons_match_pandas_and_a_plain_session(sessions,
                                                       tmp_path_factory,
                                                       case):
    import pandas as pd

    table, preds = case
    path = str(tmp_path_factory.mktemp("cmp") / "t.parquet")
    _write(table, path)
    where = [f"{_sql(c, lit)} {MIRROR[op]} {c}" if swap
             else f"{c} {op} {_sql(c, lit)}"
             for c, op, lit, swap in preds]
    (got, got_all), (plain, plain_all) = ask(
        sessions[:2], {"path": path, "where": where})
    # with filter pushdown, parquet row-group pruning skips NaN values
    # (the footer's min/max leave them out) in both sessions alike
    assert got == plain, where
    frame = pd.DataFrame({c: pd.Series(v, dtype=object)
                          for c, v in table.items()})
    want = [sorted(int(i) for i in frame.index[
                frame[c].map(lambda v, op=op, lit=lit: _holds(v, op, lit))
                .astype(bool)])
            for c, op, lit, _ in preds]
    assert got_all == want, where
    assert plain_all == want, where


# -- generated code and plans ------------------------------------------------

@pytest.fixture(scope="module")
def lineitem_like(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("codegen") / "t.parquet")
    n = 2000
    pq.write_table(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "qty": pa.array([i % 50 for i in range(n)], pa.int32()),
        "price": pa.array([i * 1.5 for i in range(n)], pa.float64()),
        "ship": pa.array([dt.date(1994, 1, 1) + dt.timedelta(days=i % 700)
                          for i in range(n)], pa.date32()),
    }), path)
    return path


def _window(start, qty, price):
    return (f"ship >= DATE'{start}' AND ship < date_add(DATE'{start}', 90)"
            f" AND qty < {qty} AND price > {price}D")


def test_new_literals_reuse_the_compiled_class(sessions, lineitem_like):
    on, off, _ = sessions
    queries = [_window("1994-01-01", 24, 100.0),
               _window("1994-06-01", 30, 250.5),
               _window("1995-02-01", 7, 1e3)]
    got, plain = ask([on, off], {"path": lineitem_like,
                                 "compiles": queries})
    # the first query compiles its classes in both sessions; after it a
    # new value costs the extension session no compile at all
    assert got[1:] == [0, 0], got
    assert min(plain[1:]) > 0, plain


def _masked(text):
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", text))


def _pushed(text):
    return re.findall(r"PushedFilters: \[(.*)\]", text)


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_explain_text_is_unchanged(sessions, lineitem_like, aqe):
    req = {"path": lineitem_like, "explain": _window("1994-03-01", 11, 2.5),
           "aqe": aqe}
    got, plain = ask(sessions[:2], req)
    # the extension's file pruning wraps the scan's file index, which
    # renames the class in the Location line and nothing else
    assert "Location: PruningFileIndex [" in got
    assert "Location: InMemoryFileIndex [" in plain
    assert _pushed(got) == _pushed(plain)
    got = _masked(got).replace("Location: PruningFileIndex [",
                               "Location: InMemoryFileIndex [")
    assert got == _masked(plain)
    assert ("isFinalPlan=true" in got) == (aqe == "true")
    assert "Condition : " in got and "(qty# < 11)" in got
    pushed = re.search(r"PushedFilters: \[(.*)\]", got).group(1)
    assert "LessThan(qty,11)" in pushed
    assert "GreaterThanOrEqual(ship,1994-03-01)" in pushed


# -- a jar that is not ours --------------------------------------------------

def test_bad_jar_gives_a_plain_session_and_is_rebuilt(jar_cache, tmp_path):
    shutil.copytree(jar_cache[0], tmp_path, dirs_exist_ok=True)
    jar, key = _jar(tmp_path)
    with open(jar, "wb") as f:
        f.write(b"\x00garbage" * 512)
    out, _ = run_child(tmp_path)  # asserts the rows
    assert out["extensions"] is None
    assert "-XX:SharedArchiveFile=" in out["java_opts"]
    assert session._is_param_jar(jar, key)


def test_jar_check(tmp_path):
    jar, key = str(tmp_path / "p.jar"), "k1"
    cls = session._PARAM_EXTENSION.replace(".", "/") + ".class"
    for entries, ok in [({session._PARAM_STAMP: key, cls: b"x"}, True),
                        ({session._PARAM_STAMP: "k2", cls: b"x"}, False),
                        ({session._PARAM_STAMP: key}, False),
                        ({cls: b"x"}, False)]:
        with zipfile.ZipFile(jar, "w") as z:
            for name, data in entries.items():
                z.writestr(name, data)
        assert session._is_param_jar(jar, key) == ok, entries
    assert not session._is_param_jar(str(tmp_path / "missing.jar"), key)

