"""Session start-up from the JVM class-data-sharing archive.

Each JVM case runs ``get_spark`` in a fresh Python process with
``XDG_CACHE_HOME`` pointing at a test directory, so the archive it
builds or maps is the test's own. The JVM cases are the build run, a
mapping run, a corrupt archive and a conf dir with real files; the
other launch rules are checked on ``_cds_launch`` without a JVM.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from charmpandas_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, sys
import charmpandas_spark as cps
before = os.environ.get("SPARK_CONF_DIR")
extra = json.loads(sys.argv[1])
if os.environ.get("SPARK_GRAFT_CPUS"):
    spark = cps.get_spark(master="local[2]", shuffle_partitions=2,
                          extra_conf=extra)
else:
    spark = cps.get_spark(extra_conf=extra)
row = spark.range(1000).selectExpr("sum(id) AS s", "count(*) AS n") \\
    .collect()[0]
print("RESULT " + json.dumps({
    "sum": row["s"], "n": row["n"],
    "conf_dir_restored": os.environ.get("SPARK_CONF_DIR") == before,
    "java_opts": spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions", ""),
    "marker": spark.conf.get("spark.cps.test.marker", None),
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "cpu_count": os.cpu_count()}))
"""


def run_child(cache, extra_conf=None, conf_dir=None, cpus="2"):
    """One session in a fresh process that exits without stopping it,
    on ``local[2]`` (``cpus=None``: ``get_spark``'s default master);
    returns (result dict, stdout)."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache),
               SPARK_GRAFT_CPUS=cpus or "",
               SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")]
                             if p]))
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    p = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf or {})],
        env=env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    line = next(ln for ln in p.stdout.splitlines()
                if ln.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])
    assert (out["sum"], out["n"]) == (499500, 1000)
    assert out["conf_dir_restored"]
    return out, p.stdout


def archives(cache):
    return glob.glob(os.path.join(str(cache), "charmpandas_spark", "*.jsa"))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache after one first-use session: (cache dir, result, stdout)."""
    cache = tmp_path_factory.mktemp("cds_cache")
    out, stdout = run_child(cache)
    return cache, out, stdout


def test_first_session_builds_one_archive(built):
    cache, out, stdout = built
    assert "-XX:ArchiveClassesAtExit=" in out["java_opts"]
    assert len(archives(cache)) == 1
    assert not glob.glob(os.path.join(str(cache), "charmpandas_spark",
                                      "*.tmp"))
    assert "[warning][cds]" not in stdout


def test_later_session_maps_archive_and_keeps_caller_options(built,
                                                             tmp_path):
    cache, _, _ = built
    log = tmp_path / "class_load.log"
    out, _ = run_child(cache, {"spark.driver.extraJavaOptions":
                               f"-Xlog:class+load:file={log}"})
    assert "-XX:SharedArchiveFile=" in out["java_opts"]
    lines = [ln for ln in log.read_text().splitlines()
             if " org.apache.spark.SparkContext source:" in ln]
    assert lines and lines[0].endswith("shared objects file (top)"), lines


def test_corrupt_archive_falls_back_to_a_plain_start(built, tmp_path):
    name = os.path.basename(archives(built[0])[0])
    os.makedirs(tmp_path / "charmpandas_spark")
    # right magic, garbage body: the JVM must reject it and start anyway
    (tmp_path / "charmpandas_spark" / name).write_bytes(
        session._CDS_MAGIC + b"\x00garbage" * 4096)
    out, _ = run_child(tmp_path)
    assert "-XX:SharedArchiveFile=" in out["java_opts"]


def test_conf_dir_with_real_files_skips_cds(tmp_path):
    """Also: with no master and no SPARK_GRAFT_CPUS, one task thread
    and one shuffle partition per host core."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cps.test.marker yes\n")
    out, _ = run_child(tmp_path / "cache", conf_dir=conf, cpus=None)
    assert out["marker"] == "yes"
    assert "XX:" not in out["java_opts"]
    assert not (tmp_path / "cache").exists()
    assert out["master"] == f"local[{out['cpu_count']}]"
    assert out["shuffle_partitions"] == str(out["cpu_count"])


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


def test_launch_rules(no_gateway, tmp_path):
    from pyspark import SparkContext

    plan = session._cds_launch("local[2]")
    if plan is None:
        pytest.skip("no Spark jars dir or java binary to key an archive")
    assert plan.dump and plan.dump.startswith(plan.archive)
    assert os.listdir(plan.conf_dir) == []
    assert session._cds_launch("spark://host:7077") is None
    assert session._cds_launch("yarn") is None
    # a bad archive is rebuilt, a good one mapped
    with open(plan.archive, "wb") as f:
        f.write(b"not an archive")
    assert session._cds_launch("local").dump is not None
    with open(plan.archive, "wb") as f:
        f.write(session._CDS_MAGIC)
    assert session._cds_launch("local").dump is None
    # the user's conf dir holds real files
    no_gateway.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert session._cds_launch("local") is None
    no_gateway.delenv("HADOOP_CONF_DIR")
    # an unwritable cache: XDG_CACHE_HOME is a file
    shutil.rmtree(tmp_path / "charmpandas_spark")
    (tmp_path / "file").write_text("")
    no_gateway.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._cds_launch("local") is None
    # a gateway already runs, or spark-submit started the process
    no_gateway.setenv("XDG_CACHE_HOME", str(tmp_path))
    no_gateway.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._cds_launch("local") is None
    no_gateway.delenv("PYSPARK_GATEWAY_PORT")
    no_gateway.setattr(SparkContext, "_gateway", object())
    assert session._cds_launch("local") is None


def test_install_archive_keeps_only_a_complete_dump(tmp_path):
    archive, dump = tmp_path / "a.jsa", tmp_path / "a.jsa.1.tmp"
    dump.write_bytes(b"half written")
    session._install_archive(None, str(dump), str(archive))
    assert not archive.exists() and not dump.exists()
    dump.write_bytes(session._CDS_MAGIC + b"rest")
    session._install_archive(None, str(dump), str(archive))
    assert archive.read_bytes() == session._CDS_MAGIC + b"rest"
    assert not dump.exists()
