"""Sessions in fresh Python processes, each with its own start-up cache
(``XDG_CACHE_HOME``), for the tests of what ``get_spark`` builds and
maps there, and of the session extension it loads from that cache."""

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


SERVER = """
import functools, json, sys
import charmpandas_spark as cps
from charmpandas_spark.plans.explain import files_read, plan_string
from pyspark.sql import functions as F
spark = cps.get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf=json.loads(sys.argv[1]))
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \\
    .METRIC_COMPILATION_TIME()
utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils


def ids(path, wheres):
    # the ids each filter keeps, from one job over a union
    df = cps.read_parquet(spark, path).sdf
    parts = [df.where(w).select(F.lit(k).alias("k"), "id")
             for k, w in enumerate(wheres)]
    out = [[] for _ in wheres]
    for k, i in functools.reduce(lambda a, b: a.unionAll(b), parts) \\
            .collect():
        out[k].append(i)
    return [sorted(o) for o in out]


def reads(req):
    # per filter: [sorted ids, files read], or [error condition, None]
    reader = spark.read.options(**req.get("options", {}))
    df = (reader.schema(req["schema"]).parquet(req["path"])
          if "schema" in req else cps.read_parquet(spark, req["path"]).sdf)
    out = []
    for w in req["reads"]:
        q = df.where(w).select("id")
        try:
            out.append([sorted(r[0] for r in q.collect()), files_read(q)])
        except Exception as e:
            out.append([getattr(e, "getCondition", lambda: None)()
                        or type(e).__name__, None])
    return out


def plans(req):
    # which file index each scan plans with, and what matches across reads
    def read():
        return cps.read_parquet(spark, req["path"]).sdf.where("id < 10")
    q, q2 = read().groupBy("v").count(), read().groupBy("v").count()
    u = q.union(q2)
    u.collect()
    spark.range(3).write.mode("overwrite").json(req["json"])
    spark.range(20).selectExpr("id", "id % 2 AS p").write \\
        .partitionBy("p").saveAsTable("catalog_t")
    try:
        catalog = spark.table("catalog_t").where("id < 3")
        catalog.collect()
        rule = spark._jvm.charmpandas.spark.PruneParquetFiles
        plan = q._jdf.queryExecution().optimizedPlan()
        return {
            "parquet": plan_string(q),
            "json": plan_string(spark.read.json(req["json"]).where("id < 1")),
            "catalog": plan_string(catalog),
            "reused": plan_string(u).count("ReusedExchange"),
            "same_result": plan.sameResult(
                q2._jdf.queryExecution().optimizedPlan()),
            "idempotent": None if "JavaClass" not in type(rule).__name__
            else rule.apply(plan).equals(plan)}
    finally:
        spark.sql("DROP TABLE catalog_t")


def handle(req):
    if "reads" in req:
        return reads(req)
    if "plans" in req:
        return plans(req)
    if "cluster" in req:
        cps.write_clustered(
            spark.range(req["rows"]).selectExpr("id", "id * 7 % 100 AS v"),
            req["cluster"], cluster_by="id",
            max_records_per_file=req["file_rows"])
        return None
    if "where" in req:
        pushed = ids(req["path"], req["where"])
        spark.conf.set("spark.sql.parquet.filterPushdown", "false")
        try:
            return pushed, ids(req["path"], req["where"])
        finally:
            spark.conf.unset("spark.sql.parquet.filterPushdown")
    if "compiles" in req:
        out = []
        for w in req["compiles"]:
            before = compiles.getCount()
            ids(req["path"], [w])
            out.append(compiles.getCount() - before)
        return out
    spark.conf.set("spark.sql.adaptive.enabled", req["aqe"])
    try:
        df = cps.read_parquet(spark, req["path"]).sdf \\
            .where(req["explain"]).groupBy("qty").count()
        if req["aqe"] == "true":  # the final plan, after its stages ran
            df.collect()
        return utils.explainString(df._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")


print("RESULT " + json.dumps({
    "jars": spark.sparkContext.getConf().get("spark.jars", ""),
    "extensions": spark.conf.get("spark.sql.extensions", None)}),
    flush=True)
for line in sys.stdin:
    print("RESULT " + json.dumps(handle(json.loads(line))), flush=True)
"""


class Server:
    """A session in a child process answering JSON requests (``SERVER``)."""

    def __init__(self, env, extra_conf, log):
        self.log = open(log, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-c", SERVER, json.dumps(extra_conf)],
            env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True)

    def send(self, req):
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()

    def receive(self):
        for line in self.proc.stdout:
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        raise AssertionError(
            f"session exited: {open(self.log.name).read()[-3000:]}")

    def close(self):
        self.proc.stdin.close()
        self.proc.wait(timeout=120)
        self.log.close()


def ask(servers, req):
    """``req`` to every server at once; their answers in order."""
    for s in servers:
        s.send(req)
    return [s.receive() for s in servers]
