"""Named-table catalog over parquet directories.

The reference registers every materialized asset as a SQL temp view by
name (``etl_textreuse/spark_utils.py:57-65`` ``register``; ``:113-122``
``materialise_s3`` = write-parquet-then-read-back). This module gives the
same contract over any filesystem Spark's Hadoop layer can reach, plus the
exists/delete/rename utilities (``spark_utils.py:67-111``).
"""

from __future__ import annotations

import os
import warnings
import weakref

from pyspark.sql import DataFrame, SparkSession

#: the driver-generated synthetic tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register(spark: SparkSession, df: DataFrame, name: str, cache: bool = False) -> DataFrame:
    """Register ``df`` as temp view ``name`` (optionally eagerly cached).

    Mirrors ``spark_utils.py:57-65`` (CACHE TABLE path) without the
    SQL-string indirection.
    """
    if cache:
        df = df.cache()
    df.createOrReplaceTempView(name)
    return df


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str, register_view: bool = True) -> DataFrame:
    # Self-configure sessions we didn't create (the external driver runs
    # query builders in ITS OWN session): nanosecond-parquet reads fail
    # outright without nanosAsLong, and a non-UTC session would shift
    # date extraction vs the UTC-naive DuckDB oracle. Both are
    # runtime-settable (verified).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    df = _normalize_nanos(df, nanos_cols=_nanos_columns(path))
    df = _normalize_ntz(df)
    if register_view:
        df.createOrReplaceTempView(name)
    return df


def _nanos_columns(path: str) -> list[str]:
    """Columns whose *parquet footer* type is TIMESTAMP(NANOS).

    ``nanosAsLong`` makes Spark surface those as plain bigint with no
    marker, so the Spark schema alone can't distinguish them from a
    genuine epoch-micros/millis bigint — a name heuristic would silently
    divide such a column by 1000.  The footer is authoritative; read it
    with pyarrow (any one footer suffices — parquet directories are
    schema-uniform).  Unreachable/remote paths: no conversion, with a
    warning — silently skipping would leave TIMESTAMP(NANOS) columns as
    raw bigints downstream with no diagnostic.  A missing pyarrow is a
    broken environment (it ships with pyspark), so ImportError surfaces.
    """
    import pyarrow as pa
    import pyarrow.dataset as pads

    try:
        schema = pads.dataset(path, format="parquet").schema
    except Exception as exc:  # unreadable/remote footer — I/O only
        warnings.warn(
            f"could not read parquet footer at {path!r} ({exc}); "
            "TIMESTAMP(NANOS) columns, if any, will stay raw bigint",
            stacklevel=2,
        )
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _normalize_nanos(df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    """Convert long-nanosecond columns (see ``nanosAsLong`` in
    session.py) to Spark's µs timestamps. Truncation (ns → µs) matches
    DuckDB's ``epoch_us`` on TIMESTAMP_NS. ``nanos_cols`` comes from the
    parquet footer (``_nanos_columns``) or an explicit caller list —
    never a column-name guess."""
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name in nanos_cols and field.dataType.simpleString() == "bigint":
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to the session-zone TIMESTAMP type.

    Parquet writers flip between ``isAdjustedToUTC`` true/false for the
    same logical data; false surfaces as TIMESTAMP_NTZ, on which
    instant functions (``unix_micros``, tz conversions) refuse to
    resolve. The session is pinned to UTC (``load_table``), so the cast
    reinterprets the wall-clock reading as the identical UTC instant —
    bit-for-bit the same microseconds, matching DuckDB's naive
    ``epoch_us`` — and every query sees ONE timestamp type regardless
    of which writer produced the file."""
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


#: per-application memo of the last ``load_testdata``: app_id -> (sf_dir,
#: {name: df}). Temp views are session-global state, so only ONE sf_dir is
#: live at a time; a different sf_dir (or a fresh application) reloads and
#: re-registers everything, which keeps repeated builder calls from paying
#: 10 footer reads + view registrations of pure fixed cost per query.
_TESTDATA_MEMO: dict[str, tuple[str, dict[str, DataFrame]]] = {}


def load_testdata(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Read + register the synthetic tables for a scale factor dir."""
    app_id = spark.sparkContext.applicationId
    sf_key = os.path.abspath(sf_dir)
    memo = _TESTDATA_MEMO.get(app_id)
    if memo is not None and memo[0] == sf_key and all(n in memo[1] for n in names):
        return {n: memo[1][n] for n in names}
    if memo is not None and memo[0] == sf_key:
        dfs = dict(memo[1])  # same dir, extra tables requested
    else:
        dfs = {}
    for n in names:
        if n not in dfs:
            dfs[n] = load_table(spark, sf_dir, n)
    _TESTDATA_MEMO[app_id] = (sf_key, dfs)
    return {n: dfs[n] for n in names}


# ---------------------------------------------------------------------------
# Hadoop-FS utilities (work on local FS, HDFS, S3A alike)
# ---------------------------------------------------------------------------


#: py4j gateway -> its ``org.apache.hadoop.fs.Path`` class. Resolving
#: ``jvm.org.apache.hadoop.fs.Path`` walks the package one py4j round trip
#: per step, each a failed class lookup that scans every jar: a
#: ``path_exists`` call cost 1.7 ms of CPU that way on a 4-vCPU host, and
#: 0.37 ms with the class resolved once. Keyed by gateway, not held once
#: per module, because a stopped session's gateway may be replaced.
_PATH_CLASS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _hadoop_fs(spark: SparkSession, path: str):
    gateway = spark.sparkContext._gateway
    path_class = _PATH_CLASS.get(gateway)
    if path_class is None:
        path_class = _PATH_CLASS[gateway] = spark._jvm.org.apache.hadoop.fs.Path
    hpath = path_class(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """``spark_utils.py:67-80`` equivalent."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def delete_path(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.delete(hpath, True))


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    fs, hsrc = _hadoop_fs(spark, src)
    _, hdst = _hadoop_fs(spark, dst)
    return bool(fs.rename(hsrc, hdst))


def touch_path(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (overwriting), e.g. a completion
    marker owned by a multi-step maintenance procedure. Hadoop
    ``FileSystem.create`` + close — works on local FS, HDFS, S3A alike."""
    write_text(spark, path, "")


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` (UTF-8) to one file, overwriting it, through the
    Hadoop ``FileSystem``: no Spark job, unlike a one-row DataFrame write."""
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """The UTF-8 contents of one file written by :func:`write_text`."""
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


# ---------------------------------------------------------------------------
# Materialization (write-once snapshot semantics)
# ---------------------------------------------------------------------------


def materialise(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    name: str | None = None,
    target_files: int | None = None,
) -> DataFrame:
    """Write an unpartitioned parquet snapshot, read back, register.
    Downstream consumers see on-disk data (lineage truncation), matching
    the reference's immutable-snapshot contract
    (``spark_utils.py:113-122``).

    ``target_files`` bounds the snapshot's file count via ``coalesce``
    (no shuffle — it narrows the final stage; write parallelism drops to
    ``target_files`` tasks, which is the point: a 35-stage DAG writing
    default-shuffle-partition files per snapshot decays into a
    small-files/listing problem, the batch twin of what streaming state
    compaction fixes). Leave None for large assets where write
    parallelism matters more than file count.

    The snapshot is read back with the schema it was written with: an
    inferring read costs one footer-reading job per snapshot."""
    if target_files is not None:
        df = df.coalesce(target_files)
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    out = spark.read.schema(df.schema).parquet(path)
    if name:
        out.createOrReplaceTempView(name)
    return out


def snapshot_is_valid(spark: SparkSession, path: str) -> bool:
    """A snapshot counts only with its ``_SUCCESS`` marker: a crashed
    write leaves a directory without one, and trusting it surfaces later
    as an unreadable-parquet error in some downstream stage. The reuse
    path built on it is ``plans.registry.Registry.materialise``."""
    return path_exists(spark, f"{path}/_SUCCESS")
