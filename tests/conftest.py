import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from charmpandas_spark.session import get_spark

    s = get_spark(app_name="cps-tests", master="local[8]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built(tmp_path_factory):
    """A start-up cache after one first-use session: (cache dir,
    result, stdout). It holds the class-data archive and the
    session-extension jar that session built at exit."""
    from .spark_child import run_child

    cache = tmp_path_factory.mktemp("cds_cache")
    out, stdout = run_child(cache)
    return cache, out, stdout


@pytest.fixture(scope="session")
def jar_cache(built):
    """The start-up cache of a first session, with the session-extension
    jar it built."""
    import glob

    from pyspark.find_spark_home import _find_spark_home

    if not glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "scala-compiler-*.jar")):
        pytest.skip("Spark ships no Scala compiler to build the jar")
    return built


@pytest.fixture(scope="module")
def sessions(jar_cache, tmp_path_factory):
    """Two sessions in child processes answering requests (see
    ``spark_child.SERVER``), one pair per test module: (with the
    session extension, without it, the first's start-up message). The first maps the start-up cache a
    first session built and also gets caller values for the two keys
    the extension sets, which ``get_spark`` must join with its own;
    the second starts plainly because its Spark conf dir holds a real
    file. Both keep catalog tables under a temporary warehouse."""
    import zipfile

    from .spark_child import Server, child_env

    tmp = tmp_path_factory.mktemp("ext_sessions")
    caller_jar = tmp / "caller.jar"
    with zipfile.ZipFile(caller_jar, "w") as z:
        z.writestr("caller.txt", "caller's own jar")
    conf = tmp / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cps.test.marker yes\n")
    on = Server(child_env(jar_cache[0]), {
        "spark.jars": str(caller_jar),
        "spark.sql.extensions": "org.example.CallerExtension",
        "spark.sql.warehouse.dir": str(tmp / "warehouse_on")},
        tmp / "on.log")
    off = Server(child_env(tmp / "unused_cache", conf_dir=conf), {
        "spark.sql.warehouse.dir": str(tmp / "warehouse_off")},
        tmp / "off.log")
    try:
        hello, off_hello = on.receive(), off.receive()
        assert off_hello["extensions"] is None
        yield on, off, hello
    finally:
        on.close()
        off.close()


@pytest.fixture
def no_gateway(monkeypatch, tmp_path):
    """Launch rules as seen by a process with no JVM yet."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR",
                "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    return monkeypatch


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf1_documents(tmp_path_factory, sf_dir):
    """~sf1 ``documents``: 10 copies of the sf0.1 table (a sibling of
    ``sf_dir``), each with ``doc_id`` shifted past the previous copy
    and every token suffixed with the copy number, so shingle
    document frequency stays flat instead of making every document a
    10-way exact duplicate. Written by DuckDB as one parquet file per
    copy; returns the directory."""
    import duckdb

    src = os.path.join(os.path.dirname(sf_dir), "sf0.1", "documents.parquet")
    dest = tmp_path_factory.mktemp("sf1") / "documents.parquet"
    dest.mkdir()
    with duckdb.connect() as con:
        did = con.execute(
            f"SELECT max(doc_id) + 1 FROM '{src}'").fetchone()[0]
        for i in range(10):
            con.execute(
                f"COPY (SELECT s.* REPLACE (s.doc_id + {i * did} AS doc_id, "
                f"regexp_replace(s.text, '(\\S+)', '\\1' || '{i}', 'g') "
                f"AS text) FROM '{src}' s) "
                f"TO '{dest / f'part-{i:02d}.parquet'}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 250000)")
    return str(dest)
