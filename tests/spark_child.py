"""Sessions in fresh Python processes, each with its own start-up cache
(``XDG_CACHE_HOME``), for the tests of what ``get_spark`` builds and
maps there."""

import glob
import json
import os
import subprocess
import sys

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
    "extensions": spark.conf.get("spark.sql.extensions", None),
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "cpu_count": os.cpu_count()}))
"""


def child_env(cache, conf_dir=None, cpus="2"):
    """Environment of a child process whose sessions use the cache
    ``cache`` and, when given, the Spark conf dir ``conf_dir``."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache),
               SPARK_GRAFT_CPUS=cpus or "",
               SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")]
                             if p]))
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    return env


def run_child(cache, extra_conf=None, conf_dir=None, cpus="2"):
    """One session in a fresh process that exits without stopping it,
    on ``local[2]`` (``cpus=None``: ``get_spark``'s default master);
    returns (result dict, stdout)."""
    p = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf or {})],
        env=child_env(cache, conf_dir, cpus), capture_output=True,
        text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    line = next(ln for ln in p.stdout.splitlines()
                if ln.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])
    assert (out["sum"], out["n"]) == (499500, 1000)
    assert out["conf_dir_restored"]
    return out, p.stdout


def archives(cache):
    return glob.glob(os.path.join(str(cache), "charmpandas_spark", "*.jsa"))
