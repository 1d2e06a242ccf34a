"""Parquet source (reference S1, SURVEY §2.1).

The reference regex-matches files in a directory and hand-splits each
file into equal row-ranges per chare with row-group skipping
(src/partition.cpp:748-849, regex matcher src/partition.cpp:51-63).
Spark's parquet source already splits by file/row-group and prunes
columns+predicates at the scan, so the only thing to reproduce is the
*regex path* semantics: Spark takes globs, not regexes, so when a
path contains regex metacharacters we enumerate the directory and
filter with ``re`` on the driver (file listing only — never data).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re

from pyspark.sql import SparkSession, functions as F

from ..dataframe import DataFrame
from ..timestamps import ntz_to_ltz

_GLOB_SAFE = re.compile(r"^[\w\-./*?\[\]{},= ]*$")
_REGEX_HINTS = re.compile(r"[()|+^$\\]|\.\*|\.\+")


def _expand_regex_path(path: str) -> list[str] | str:
    """If ``path`` looks like a regex (reference semantics,
    src/partition.cpp:51-63), enumerate files and match; else pass
    through to Spark (plain path or glob).

    The regex may span DIRECTORY levels (the reference matches inside
    arbitrary trees): the longest literal prefix anchors a walk and
    the remainder matches the relative path, so
    ``/data/part=(1|2)/.*\\.parquet`` works. A basename-only pattern
    stays a cheap single-directory listing."""
    if not _REGEX_HINTS.search(path):
        return path
    parts = path.split("/")
    first_rx = next((i for i, p in enumerate(parts)
                     if _REGEX_HINTS.search(p)), len(parts) - 1)
    base = "/".join(parts[:first_rx]) or "."
    pattern = "/".join(parts[first_rx:])
    try:
        rx = re.compile(pattern)
    except re.error:
        return path
    if "/" not in pattern:
        try:
            names = os.listdir(base)
        except OSError:  # base missing or a file (r15 property test:
            # 'a/.*' where a is a FILE raised NotADirectoryError) —
            # same contract as zero matches: FileNotFoundError below
            names = []
        matches = sorted(
            os.path.join(base, f) for f in names
            if rx.fullmatch(f) or rx.match(f))
    else:
        matches = []
        for root, _dirs, files in os.walk(base):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), base)
                if rx.fullmatch(rel) or rx.match(rel):
                    matches.append(os.path.join(base, rel))
        matches.sort()
    if not matches:
        raise FileNotFoundError(f"no parquet files match regex {path!r}")
    return matches


# footer key under which Spark stores the writing DataFrame's schema;
# Spark's own inference prefers it over the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: glob syntax; globs are left to Spark
_GLOB = re.compile(r"[*?\[\]{}]")


def _hidden(name: str) -> bool:
    """Spark's listing skips these names (HadoopFSUtils)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _data_file(path: str) -> str | None:
    """Absolute path of the first data file (in path order, as Spark
    lists them for inference) of a local file or flat directory. None
    when only Spark can tell: non-local paths, globs, hidden names,
    directories with a subdirectory (``partition_by`` layouts carry
    partition columns in directory names), a ``_metadata`` summary or
    no data file."""
    if "://" in path or path.startswith("file:") or _GLOB.search(path):
        return None
    path = os.path.abspath(path)
    if _hidden(os.path.basename(path)):
        return None
    if os.path.isfile(path):
        return path
    first = None
    try:
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith(("_metadata", "_common_metadata")):
                    return None
                if _hidden(e.name):
                    continue
                if e.is_dir():
                    return None
                if first is None or e.name < first:
                    first = e.name
    except OSError:
        return None
    return os.path.join(path, first) if first else None


def _first_parquet_file(path: str) -> str:
    """Some file of ``path`` (a file, directory or glob) whose footer
    can tell whether it has TIMESTAMP(NANOS) columns."""
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                return os.path.join(path, f)
    matched = sorted(_glob.glob(path))
    return matched[0] if matched else path


def _arrow_to_spark(t, col, binary_as_string: bool, infer_ntz: bool):
    """Spark type for a flat column with arrow type ``t`` and parquet
    column ``col``, matching Spark's inference; ``"ns"`` for
    TIMESTAMP(NANOS); None off the allow-list."""
    import pyarrow as pa
    from pyspark.sql import types as T

    logical = col.logical_type.type
    if pa.types.is_timestamp(t):
        # unit and UTC flag from the parquet type, which Spark reads:
        # the arrow type may restore the writer's unit (format 2.4
        # stores ``timestamp[ns]`` as MICROS; INT96 reads as ns)
        if col.physical_type != "INT64" or logical != "TIMESTAMP":
            return None
        ts = json.loads(col.logical_type.to_json())
        if ts["timeUnit"] == "nanoseconds":
            return "ns"
        if ts["isAdjustedToUTC"] or not infer_ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType() if logical == "STRING" else None
    if pa.types.is_binary(t):
        if logical != "NONE":  # ENUM/JSON/BSON annotations
            return None
        return T.StringType() if binary_as_string else T.BinaryType()
    if pa.types.is_decimal128(t):
        return (T.DecimalType(t.precision, t.scale)
                if logical == "DECIMAL" else None)
    if pa.types.is_date32(t):
        return T.DateType() if logical == "DATE" else None
    simple = {pa.bool_(): T.BooleanType(), pa.int8(): T.ByteType(),
              pa.int16(): T.ShortType(), pa.int32(): T.IntegerType(),
              pa.int64(): T.LongType(), pa.float32(): T.FloatType(),
              pa.float64(): T.DoubleType()}
    return simple.get(t)


def _off_list_type(t):
    """Spark type for an off-list arrow type in a TIMESTAMP(NANOS)
    read schema: Spark's inference for unsigned ints and durations
    (pyspark's ``from_arrow_type`` rejects or misreads them), else
    ``from_arrow_type``; None when neither maps it."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    inferred = {pa.uint8(): T.ShortType(), pa.uint16(): T.IntegerType(),
                pa.uint32(): T.LongType(), pa.uint64(): T.DecimalType(20, 0)}
    if t in inferred:
        return inferred[t]
    if pa.types.is_duration(t):
        return T.LongType()
    try:
        return from_arrow_type(t)
    except Exception:
        return None


def _footer_schema(file: str, binary_as_string: bool, infer_ntz: bool):
    """(StructType, ns_cols, exact) for ``file`` from one footer read
    and no Spark job; None when the footer is unreadable or neither
    case below applies.

    exact: the footer is on the allow-list (see :func:`read_parquet`)
    and the schema is the one Spark's inference yields.
    TIMESTAMP(NANOS) columns, which Spark 4 rejects at inference
    (PARQUET_TYPE_ILLEGAL), are typed ``long`` (Spark's reader
    accepts that pairing for a user-supplied schema) and listed in
    ns_cols for :func:`_scan` to rebuild, JVM-side and per read: no
    session conf is touched. A footer off the allow-list yields a
    schema only when it has such columns, since inference cannot read
    it at all: the other off-list fields then take
    :func:`_off_list_type` and exact is False."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    try:
        md = pq.read_metadata(file)
    except Exception:
        return None
    spark_json = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    ns_cols, exact = [], True
    if spark_json is not None:
        try:
            schema = StructType.fromJson(json.loads(spark_json))
        except Exception:
            return None
    else:
        # top-level flat columns by name; nested ones are off the list
        cols = {}
        for i in range(md.num_columns):
            col = md.schema.column(i)
            if col.max_repetition_level == 0:
                cols.setdefault(col.path, col)
        fields = []
        for a in md.schema.to_arrow_schema():
            col = cols.get(a.name)
            t = (None if col is None else
                 _arrow_to_spark(a.type, col, binary_as_string, infer_ntz))
            if t == "ns":
                ns_cols.append(a.name)
                t = LongType()
            elif t is None:
                exact = False
                t = _off_list_type(a.type)
                if t is None:
                    return None
            fields.append(StructField(a.name, t, True))
        if not (exact or ns_cols):
            return None
        schema = StructType(fields)
    if len({n.lower() for n in schema.names}) != len(schema.names):
        return None  # case-colliding names: leave the error to Spark
    return schema, ns_cols, exact


def _scan(spark: SparkSession, paths: list[str], footer, merge_schema=False):
    """Spark scan of ``paths``: with ``footer`` = (schema, ns_cols) an
    explicit-schema read that runs no job, else Spark's inference."""
    if footer is None:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)
    schema, ns_cols = footer
    sdf = spark.read.schema(schema).parquet(*paths)
    if ns_cols:
        sdf = sdf.withColumns(
            {c: F.expr(f"timestamp_micros(`{c}` div 1000)")
             for c in ns_cols})
    return sdf


def read_parquet(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Lazy parquet scan -> DataFrame (reference: eager full-column
    read, no pushdown — src/partition.cpp:812 reads ALL columns; here
    Catalyst prunes columns and pushes predicates into the scan, the
    single biggest win over the reference at 100 TB, SURVEY §4.1).

    Zero-job fast path: like the reference (src/partition.cpp:763-767)
    the schema comes from the parquet footer on the driver: one footer
    read per path with pyarrow, then an explicit-schema scan, so the
    call lists files and plans without running a Spark job. The schema
    is the one Spark's inference would give: the footer's Spark schema
    (``org.apache.spark.sql.parquet.row.metadata``) when the file was
    written by Spark, else the footer's arrow fields mapped over an
    allow-list: signed ints, float/double, bool, string/large_string,
    binary, date32, decimal128, and INT64 timestamps (UTC-adjusted ->
    TIMESTAMP, tz-less -> TIMESTAMP_NTZ then cast to TIMESTAMP,
    NANOS -> rebuilt from the raw long), honouring the session's
    ``binaryAsString`` and ``inferTimestampNTZ`` parquet confs.
    Everything else falls back to Spark's inference, one job per call:

    - INT96 timestamps without a Spark schema in the footer, unsigned
      ints, float16, time, duration, large_binary, fixed-size binary,
      decimal256, dictionary, list, struct and map columns, and
      annotated binary (ENUM/JSON/BSON);
    - case-colliding column names;
    - unreadable or missing files, non-local (``scheme://`` or
      ``file:``) paths, globs, hidden names;
    - directories with a subdirectory (``partition_by`` layouts), a
      ``_metadata``/``_common_metadata`` summary, or no data file;
    - ``merge_schema=True``.

    Spark's inference rejects TIMESTAMP(NANOS) (PARQUET_TYPE_ILLEGAL),
    so a path whose footer has such columns never falls back to it:
    off the allow-list, with ``merge_schema=True``, through a glob or
    a ``file:`` URI, the read takes an explicit schema from the first
    ``.parquet`` file's footer, with the other off-list columns typed
    by pyspark's ``from_arrow_type`` (and ``merge_schema`` ignored).

    Multi-path reads use the schema of the first data file in path
    order, as inference does, except when a path carries
    TIMESTAMP(NANOS) columns and the footers differ: then each path is
    read on its own and the parts are unioned by name (missing columns
    read as null).

    ``merge_schema``: reconcile EVOLVED schemas across files (a table
    appended to for months grows columns): Spark unions every file
    footer's fields; files missing a column read it as null. Off by
    default — schema merging footer-reads every file at planning
    time, a real cost on 10^6-file tables; a production layout
    declares the current schema instead and relies on parquet's
    by-name column resolution.
    """
    if isinstance(path, str):
        path = _expand_regex_path(path)
    paths = [path] if isinstance(path, str) else list(path)

    conf = spark.conf
    binary_as_string = conf.get(
        "spark.sql.parquet.binaryAsString", "false") == "true"
    infer_ntz = conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    files, footers = [], []
    for p in paths:
        f = _data_file(p)
        footer = _footer_schema(f or _first_parquet_file(p),
                                binary_as_string, infer_ntz)
        if footer is not None:
            schema, ns_cols, exact = footer
            # inference must read the same footer, and cannot read ns
            fast = exact and f is not None and not merge_schema
            footer = (schema, ns_cols) if fast or ns_cols else None
        files.append(f)
        footers.append(footer)
    if any(f is not None and f[1] for f in footers) and any(
            f != footers[0] for f in footers[1:]):
        # one read schema cannot cover paths whose footers differ
        # when one of them needs the ns rebuild
        parts = [ntz_to_ltz(_scan(spark, [p], f))
                 for p, f in zip(paths, footers)]
        sdf = parts[0]
        for q in parts[1:]:
            sdf = sdf.unionByName(q, allowMissingColumns=True)
    elif footers and None not in footers:
        # inference reads the first data file in path order (equal
        # footers when a path needs the ns rebuild)
        first = files.index(min(files)) if None not in files else 0
        sdf = _scan(spark, paths, footers[first])
    else:
        sdf = _scan(spark, paths, None, merge_schema)
    # Spark 4 infers tz-less parquet timestamps as TIMESTAMP_NTZ,
    # which watermarks/unix_micros reject; normalize at ingest
    # (lossless under the UTC session tz — timestamps.py).
    sdf = ntz_to_ltz(sdf)
    if columns:
        sdf = sdf.select(*columns)
    return DataFrame(sdf)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Convenience loader for the driver testdata layout
    (``{sf_dir}/{name}.parquet``, TESTDATA.md)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """Sink (absent in the reference — SURVEY §2.1 'No sinks exist')."""
    df.to_parquet(path, mode=mode, partition_by=partition_by)


def write_clustered(
    df,
    path: str,
    cluster_by: str | list[str],
    sort_by: str | list[str] | None = None,
    partition_by: str | list[str] | None = None,
    max_records_per_file: int | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Layout-aware parquet sink: range-repartition on ``cluster_by``
    then sort within each output file on ``sort_by`` (defaults to the
    cluster keys), so every file owns a contiguous, internally-sorted
    key range.

    Why this matters at 100 TB: parquet stores per-row-group min/max
    statistics, and readers (this engine, Trino, DuckDB, ...) skip
    row groups whose stats exclude the predicate. A hash-partitioned
    unsorted write scatters every key range across every file —
    stats cover everything, nothing prunes. After a clustered write,
    a point/range predicate on the cluster key touches ~1 file and
    ~1 row group instead of all of them. ``max_records_per_file``
    bounds file size for downstream listing/parallelism;
    ``partition_by`` composes directory-level partition pruning on
    low-cardinality keys with row-group pruning on high-cardinality
    ones (the standard date/id two-level layout).
    """
    sdf = getattr(df, "sdf", df)
    ck = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    sk = (ck if sort_by is None
          else [sort_by] if isinstance(sort_by, str) else list(sort_by))
    # no num_files: AQE sizes the range shuffle output by bytes (the
    # right default at scale). Explicit num_files pins the file count
    # (an explicit repartition count is exempt from AQE coalescing).
    if num_files is None:
        out = sdf.repartitionByRange(*ck)
    else:
        out = sdf.repartitionByRange(num_files, *ck)
    out = out.sortWithinPartitions(*sk)
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        pb = ([partition_by] if isinstance(partition_by, str)
              else list(partition_by))
        w = w.partitionBy(*pb)
    w.parquet(path)


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes``-sized files (copy-on-write — the rewrite
    lands at ``out_path``; the caller swaps directories after
    validating, which is also why ``out_path`` must differ from
    ``path``).

    Why it exists: streaming sinks, per-batch merges, and
    over-parallel writes leave thousands of tiny files; at 100 TB
    the *listing* alone stalls planning, and every scan pays
    per-file open/footer costs. The output file count is derived
    from the layout's actual byte size (Hadoop FileSystem content
    summary — works on HDFS/S3A/local alike), not row counts, so
    compaction converges in one pass. With ``cluster_by`` the
    rewrite range-partitions + sorts, upgrading the layout to a
    prunable one (see :func:`write_clustered`) in the same pass;
    otherwise a round-robin repartition just right-sizes files.

    Returns {files_before, bytes_before, files_after, target_files}.
    """
    import math

    if out_path == path:
        raise ValueError("compact_files is copy-on-write: out_path "
                         "must differ from path")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    def data_files(p: str) -> int:
        """Non-hidden data files only (_SUCCESS/_metadata excluded)."""
        jp = jvm.org.apache.hadoop.fs.Path(p)
        sts = jp.getFileSystem(hconf).listStatus(jp)
        return sum(1 for st in sts
                   if st.isFile()
                   and not st.getPath().getName().startswith(("_", ".")))

    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)
    summary = fs.getContentSummary(src)
    bytes_before = int(summary.getLength())
    files_before = data_files(path)
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))

    df = spark.read.parquet(path)
    if cluster_by:
        ck = ([cluster_by] if isinstance(cluster_by, str)
              else list(cluster_by))
        out = (df.repartitionByRange(n_out, *ck)
                 .sortWithinPartitions(*ck))
    else:
        out = df.repartition(n_out)
    out.write.mode(mode).parquet(out_path)

    return {"files_before": files_before,
            "bytes_before": bytes_before,
            "files_after": data_files(out_path),
            "target_files": n_out}
