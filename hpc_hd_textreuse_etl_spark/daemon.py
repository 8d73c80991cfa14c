"""The Python worker daemon of local sessions (``spark.python.daemon.module``).

Spark starts every Python worker daemon with its own archives at the
front of ``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar. No conf or environment variable
removes them, so the worker imports pyspark from the zip and ends up
with one zip importer per package directory it touches (16 in a
``mapInArrow`` task). PySpark 4.1 calls ``importlib.invalidate_caches()``
before every task (``worker_util.setup_spark_files``), and that makes
each zip importer re-read its whole archive directory: about 0.24 s of
CPU per task on a 4-vCPU host, against 0.07 ms without the archives.

When pyspark and py4j of the archives' versions import from elsewhere on
the path (a pip-installed PySpark), this module drops the archives from
``sys.path`` and their importers from ``sys.path_importer_cache`` before
anything imports pyspark, then runs pyspark's own daemon. Otherwise it
leaves the path as Spark built it. :func:`session.get_spark` sets it
only where a fresh interpreter can import this package.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

#: the packages whose copies in Spark's archives must have a twin elsewhere
_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(r"""^__version__\b[^=\n]*=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archived_version(archives: list[str], package: str) -> str | None:
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                return _version(zf.read(f"{package}/version.py").decode())
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
    return None


def _installed_version(path: list[str], package: str) -> str | None:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives if pyspark and py4j of the same
    versions import from the rest of it; otherwise ``path`` unchanged."""
    archives = [e for e in path if _is_spark_archive(e)]
    rest = [e for e in path if e not in archives]
    if not archives:
        return path
    for package in _PACKAGES:
        archived = _archived_version(archives, package)
        if archived is None or _installed_version(rest, package) != archived:
            return path
    return rest


def main() -> None:
    kept = without_spark_archives(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
