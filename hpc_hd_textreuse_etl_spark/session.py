"""SparkSession factory.

Replaces the reference's ``get_spark_session``
(``etl_textreuse/spark_utils.py:20-44``) with a local/cluster-agnostic
factory. The scale-relevant configs carried over from the reference:
zstd parquet compression, v2 file output committer, and
``datetimeRebaseModeInWrite=CORRECTED`` (historical pre-Gregorian dates).
Additions for a modern engine: AQE (runtime re-planning, skew-join
handling, partition coalescing) and Arrow for the Pandas-UDF path.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "hpc-hd-textreuse-etl-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Half of the host's physical memory, capped at 16g — a driver heap
    that fits the machine it starts on. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it for a deployment."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(phys // 2 // 2**20, 16 * 1024)}m"


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on EXECUTOR Python workers.

    In ``local[N]`` the workers inherit the driver's sys.path, which
    hides a real deployment bug: any closure that references a
    module-level function (e.g. skyline's partition-local prune) is
    cloudpickled BY REFERENCE and re-imported on the worker — on a real
    cluster (or ``local-cluster[...]``, which spawns separate executor
    JVMs + Python workers) that import fails with ModuleNotFoundError
    unless the package is shipped. ``addPyFile`` with a zip of the
    package is the mechanism that works without a shared filesystem;
    it is idempotent per SparkContext and a no-op for pure local
    masters."""
    master = spark.sparkContext.master
    if master.startswith("local[") or master == "local":
        return
    if getattr(spark.sparkContext, "_pkg_shipped", False):
        return
    spark.sparkContext.addPyFile(_build_package_zip())
    spark.sparkContext._pkg_shipped = True


def _build_package_zip() -> str:
    """Zip every .py of this package (import-rooted, __pycache__
    excluded) into a temp file suitable for ``addPyFile``, in a dir
    removed when the interpreter exits. Split out of :func:`_ship_package`
    so the completeness of the shipped artifact is unit-testable without
    spawning executors."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import session_temp_dir

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        session_temp_dir("spark-pkg-"), "hpc_hd_textreuse_etl_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    return zip_path


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` defers to spark-submit / an existing session so the
    same code runs unchanged on a 1000-executor cluster; tests pass
    ``local[N]`` explicitly.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")

    conf = {
        # -- correctness-critical (shared with oracle comparisons) --
        "spark.sql.session.timeZone": "UTC",
        # historical publication dates predate the Gregorian switch
        # (reference: spark_utils.py:27)
        "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
        "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
        # Spark has no nanosecond timestamp type; surface parquet
        # TIMESTAMP(NANOS) as long (catalog.load_table converts to µs)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # -- performance --
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # v2 committer: task commits rename directly (reference:
        # spark_utils.py:33)
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
