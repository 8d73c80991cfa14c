"""SparkSession defaults (session.py) that depend on the host."""

from __future__ import annotations

from hpc_hd_textreuse_etl_spark import session


def test_default_driver_memory_is_half_of_physical_capped(monkeypatch):
    conf = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    conf["SC_PHYS_PAGES"] = 15 * 2**30 // 4096  # 15 GiB host
    assert session.default_driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096  # capped at 16g
    assert session.default_driver_memory() == "16384m"


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert session.default_driver_memory() == "16g"


# ---------------------------------------------------------------------------
# Python workers without Spark's archives (daemon.py)
# ---------------------------------------------------------------------------


def test_worker_task_imports_pyspark_without_zip_importers(spark):
    """A ``mapInArrow`` task of a ``get_spark`` session imports the
    driver's pyspark from outside Spark's archives, holds no zip importer,
    and PySpark's per-task ``importlib.invalidate_caches()`` is cheap."""
    import pyarrow as pa
    import pyspark

    def probe(batches):
        import importlib
        import sys
        import time
        import zipimport

        import pyspark as worker_pyspark

        for _ in batches:
            pass
        t = time.process_time()
        importlib.invalidate_caches()
        ms = (time.process_time() - t) * 1000
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "zips": [zips], "version": [worker_pyspark.__version__],
            "origin": [worker_pyspark.__file__], "ms": [ms],
        })

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "hpc_hd_textreuse_etl_spark.daemon")
    (row,) = spark.range(0, 1, 1, 1).mapInArrow(
        probe, "zips long, version string, origin string, ms double").collect()
    assert row.zips == 0
    assert row.version == pyspark.__version__
    assert ".zip" not in row.origin
    assert row.ms < 20, row.ms


def _archive(path, package, version):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "")
        zf.writestr(f"{package}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _installed(root, package, version):
    (root / package).mkdir(parents=True)
    (root / package / "__init__.py").write_text("")
    (root / package / "version.py").write_text(f"__version__: str = {version!r}\n")


def test_daemon_drops_archives_only_when_same_versions_import_elsewhere(tmp_path):
    from hpc_hd_textreuse_etl_spark.daemon import without_spark_archives

    lib = tmp_path / "lib"
    lib.mkdir()
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    jar.write_bytes(b"")
    archives = [_archive(lib / "pyspark.zip", "pyspark", "4.1.2"),
                _archive(lib / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9"), str(jar)]
    user_zip = _archive(tmp_path / "deps.zip", "deps", "1")
    site = tmp_path / "site"
    site.mkdir()
    path = [str(tmp_path / "cwd"), *archives, user_zip, str(site)]

    # neither package imports without the archives
    assert without_spark_archives(path) == path
    # pyspark does, py4j does not
    _installed(site, "pyspark", "4.1.2")
    assert without_spark_archives(path) == path
    # both do, but py4j of another version
    _installed(site, "py4j", "0.10.9.7")
    assert without_spark_archives(path) == path
    # both, of the archives' versions: only Spark's archives go
    (site / "py4j" / "version.py").write_text("__version__ = '0.10.9.9'\n")
    assert without_spark_archives(path) == [str(tmp_path / "cwd"), user_zip, str(site)]
    # a path without Spark's archives stays as it is
    assert without_spark_archives([str(site)]) == [str(site)]


class _Builder:
    """Records what ``get_spark`` configures instead of starting Spark."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        class Context:
            master = self.conf["master"]

            def setLogLevel(self, level):
                pass

            def addPyFile(self, path):
                pass

        class Session:
            sparkContext = Context()

        return Session()


def _configured(monkeypatch, master):
    builder = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark(master=master)
    return builder.conf


def test_worker_daemon_set_only_on_local_masters(monkeypatch, tmp_path):
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(repo)
    key = "spark.python.daemon.module"
    assert _configured(monkeypatch, "local[2]")[key] == "hpc_hd_textreuse_etl_spark.daemon"
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        assert key not in _configured(monkeypatch, master), master
    # a local master whose workers could not import the package
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: str(tmp_path))
    assert key not in _configured(monkeypatch, "local[2]")


# ---------------------------------------------------------------------------
# Generated-class cache
# ---------------------------------------------------------------------------


def test_repeated_query_compiles_nothing_after_many_distinct_ones(spark):
    """Spark's default cache of 100 generated classes would evict the
    first query's class after 130 distinct ones; the session's cache
    holds it."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i):
        spark.range(0, 1, 1, 1).selectExpr(f"id * {i + 7} + {i} AS x").collect()

    def compiled():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    run(0)
    before = compiled()
    for i in range(1, 131):
        run(i)
    assert compiled() - before >= 100  # every query compiled its own class
    before = compiled()
    run(0)
    assert compiled() == before
