"""SparkSession construction tuned for the charmpandas-spark engine.

The reference (UIUC-PPL/charmpandas) manages its own elastic runtime:
PE rescale, MetisLB chare migration, per-PE aggregator groups
(reference: charmpandas/interface.py:431-693, src/server.hpp:26-49).
On Spark all of that is session configuration: AQE replaces the
histogram+greedy skew mitigation (src/partition.cpp:1444-1482),
dynamic allocation replaces rescale, and Arrow-accelerated
``toPandas`` replaces the Arrow-IPC CCS fetch path
(src/serialize.hpp:10-47).

Session notes:
- AQE on: runtime partition coalescing + skew-join splitting means the
  static ``spark.sql.shuffle.partitions`` only needs to be an upper
  bound; on a cluster set it ~2-3x total cores and let AQE coalesce.
- ``maxPartitionBytes`` 128m keeps scan tasks memory-bounded.
- Arrow batch transfer for every Python<->JVM hop.

Start-up (class-data sharing): when ``get_spark`` launches a local
driver JVM itself, it starts that JVM from a JDK dynamic AppCDS
archive, so the ~11k Spark/Scala classes a session loads are mapped
from one file instead of parsed and verified from the jars. The
archive lives in ``$XDG_CACHE_HOME/charmpandas_spark/`` (else
``~/.cache/charmpandas_spark/``), one ``spark-<key>.jsa`` per JDK and
Spark jar set. The first session without one has the JVM dump the
classes it loaded when it exits (``-XX:ArchiveClassesAtExit``); an
``atexit`` hook waits for that dump and renames it into place, so
the one-off cost (10-20 s) lands at interpreter exit, not in any
query. Later sessions map it with ``-Xshare:auto``: a stale, foreign
or corrupt archive falls back to a normal start. The JVM refuses an
archive when a non-empty directory is on the classpath, and Spark
puts its conf dir there, so the launch points ``SPARK_CONF_DIR`` at
an empty directory in the cache -- only when the effective conf dir
holds nothing but ``*.template`` files, which Spark never reads.
CDS is skipped (a plain launch) for a non-local master, an already
running gateway (``spark-submit``, a second session), a conf dir
with real files, ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` set, or a
cache directory that cannot be written. Deleting the directory
resets it.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # AQE: runtime re-planning (coalesce small partitions, split skewed
    # ones, demote/promote join strategies). Replaces the reference's
    # hand-rolled bucket histogram + greedy assignment.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas / pandas UDFs (the reference's data plane is
    # Arrow IPC end-to-end; this is the Spark equivalent).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic timestamps across engines (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Scan tasks stay memory-bounded at any input scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast small dimension tables aggressively (star-schema joins).
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND arr IS
    # NOT NULL` from every explode() and pushes it down — through
    # repartition exchanges, into the SCAN stage. For this engine's
    # explode sources the generated array is an EXPRESSION (shingles,
    # spans, n-gram windows: all provably non-empty by construction),
    # so the pushed filter re-evaluates the whole normalize+transform
    # pipeline once per row inside the scan — which is a SINGLE task
    # for any table under maxPartitionBytes, serializing work the
    # repartition right above it exists to spread (measured:
    # decontam_ngrams 4.1 s -> 1.1 s, text_tfidf 2.0 s -> 0.9 s,
    # dedup_spans 2.1 s -> 1.2 s warm best-of-2 at sf0.1; a 20 s+
    # single task in 100-query sweeps). Excluding the rule never
    # changes results — explode drops empty/null inputs natively; the
    # rule is an optimization for exploding STORED columns that are
    # often empty, which this engine does not do.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer."
        "InferFiltersFromGenerate",
    "spark.ui.enabled": "false",
    # Shuffle/spill/broadcast block codec. lz4 (Spark's default,
    # restated for visibility) measured a WASH vs zstd on local[32]
    # — both A/B leg orders committed in CODEC_AB_r17.json; the
    # apparent per-order win was page-cache leg order, not codec. On
    # a real cluster the shuffle crosses NICs and zstd's ratio is
    # the lever (guide §2.3): set SPARK_GRAFT_IO_CODEC=zstd there
    # and re-measure — deployment decision, not a local default.
    "spark.io.compression.codec":
        os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
}


#: head of a JDK dynamic CDS archive (CDS_DYNAMIC_ARCHIVE_MAGIC
#: 0xf00baba8, little-endian); a file without it is rebuilt
_CDS_MAGIC = (0xf00baba8).to_bytes(4, "little")
#: the longest interpreter exit waits for the JVM to dump a new archive
_CDS_DUMP_WAIT_S = 120
#: the dump warns once per signed or unloadable class, on stdout
_CDS_QUIET = "-Xlog:cds=off"


class _CdsLaunch(NamedTuple):
    java_opts: str
    conf_dir: str        # empty directory the launch uses as SPARK_CONF_DIR
    archive: str
    dump: str | None     # temp file this launch dumps to, None when mapping


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _CDS_MAGIC
    except OSError:
        return False


def _cds_launch(master: str) -> _CdsLaunch | None:
    """How to start the driver JVM from a CDS archive, or None for a
    plain launch (see the module docstring for when)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if (not master.startswith("local")
            or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or os.environ.get("HADOOP_CONF_DIR")
            or os.environ.get("YARN_CONF_DIR")):
        return None
    try:
        home = _find_spark_home()
        spark_conf = (os.environ.get("SPARK_CONF_DIR")
                      or os.path.join(home, "conf"))
        if os.path.isdir(spark_conf) and not all(
                n.endswith(".template") for n in os.listdir(spark_conf)):
            return None
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
                if os.environ.get("JAVA_HOME") else shutil.which("java"))
        if not jars or not java:
            return None
        key = hashlib.sha256()
        for p in [os.path.realpath(java)] + jars:
            st = os.stat(p)
            key.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                             or os.path.expanduser("~/.cache"),
                             "charmpandas_spark")
        # the paths go into a java options string, which splits on
        # whitespace and strips quotes
        if any(c.isspace() or c in "\"'\\" for c in cache):
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"spark-{key.hexdigest()[:20]}.jsa")
    if _is_archive(archive):
        return _CdsLaunch(f"-XX:SharedArchiveFile={archive} -Xshare:auto "
                          f"{_CDS_QUIET}", conf_dir, archive, None)
    dump = f"{archive}.{os.getpid()}.tmp"
    return _CdsLaunch(f"-XX:ArchiveClassesAtExit={dump} {_CDS_QUIET}",
                      conf_dir, archive, dump)


def _install_archive(proc, dump: str, archive: str) -> None:
    """At interpreter exit: end the driver JVM (it exits when its stdin
    closes), wait for it to write ``dump``, and move that into place."""
    try:
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=_CDS_DUMP_WAIT_S)
        if _is_archive(dump):
            os.replace(dump, archive)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    except OSError:
        pass
    finally:
        with contextlib.suppress(OSError):
            os.remove(dump)


def get_spark(
    app_name: str = "charmpandas-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else
    ``local[<host cores>]``, and ``shuffle_partitions`` to the same
    core count; on a real cluster pass a cluster master and only the
    SQL conf applies. A call that launches a local driver JVM starts
    it from the class-data-sharing archive described in the module
    docstring.
    """
    from pyspark import SparkContext

    host_cpus = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus)
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if master.startswith("local"):
        # local mode runs all task threads in ONE JVM; Spark's 1g
        # default heap OOMs long before the machine does. Stay UNDER
        # 32g: crossing it disables JVM compressed oops and measurably
        # slows every pointer-heavy operator (observed 2-20x on
        # broadcast joins). On a real cluster the submitter sizes
        # executors instead.
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "24g")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else host_cpus
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    cds = _cds_launch(master)
    if cds:
        # defaultJavaOptions go in front of the caller's extraJavaOptions
        key = "spark.driver.defaultJavaOptions"
        conf[key] = " ".join(filter(None, [cds.java_opts, conf.get(key)]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if cds:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            os.environ.pop("SPARK_CONF_DIR")
            if saved_conf_dir is not None:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if cds and cds.dump:
        atexit.register(_install_archive, SparkContext._gateway.proc,
                        cds.dump, cds.archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tiny_df(spark, data, schema):
    """A driver-built small-relation DataFrame in ONE partition.

    ``spark.createDataFrame(local_list)`` parallelizes over
    ``sc.defaultParallelism`` python partitions (one per core of a
    ``local[n]`` master), so even a ONE-ROW broadcast codebook pays
    ~n python-worker round trips every time its subplan is
    evaluated — measured at ~0.35 s extra per broadcast consumption
    warm on ``local[32]`` (r13). ``parallelize(data, 1)`` makes it one
    partition / one round trip. Use for every driver-built small
    relation (codebooks, k-means centers, PSL tables, blocklists);
    NEVER fix this with ``coalesce(1)``, which evaluates the n
    python partitions sequentially instead (see SCALING.md)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema)
