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
