"""Executor package shipping (session.py): the zip handed to addPyFile
for non-local masters must contain EVERY module of the package — a
missed file resurfaces as ModuleNotFoundError inside executor Python
workers, the exact failure the local-cluster rung caught in round 6
(closures referencing module-level functions are cloudpickled by
reference and re-imported on the worker)."""

from __future__ import annotations

import pytest

import os
import subprocess
import sys
import zipfile

import hpc_hd_textreuse_etl_spark
from hpc_hd_textreuse_etl_spark.session import _build_package_zip

PKG_DIR = os.path.dirname(os.path.abspath(hpc_hd_textreuse_etl_spark.__file__))


def _on_disk_modules() -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        if "__pycache__" in root:
            continue
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                out.add(os.path.relpath(full, os.path.dirname(PKG_DIR)))
    return out


def test_zip_contains_every_package_module():
    zip_path = _build_package_zip()
    with zipfile.ZipFile(zip_path) as zf:
        shipped = set(zf.namelist())
    missing = _on_disk_modules() - shipped
    assert not missing, f"package zip is missing modules: {sorted(missing)}"
    # import-rooted layout: entries start with the package name so the
    # zip itself is a valid sys.path root
    assert all(n.startswith("hpc_hd_textreuse_etl_spark/") for n in shipped)


def test_zip_is_importable_as_sys_path_root():
    """A fresh interpreter with ONLY the zip on sys.path (plus stdlib /
    site-packages for pyspark) must import the DAG's operator modules:
    defrag's applyInPandas scan is a closure that rides to executors
    and re-imports its module there."""
    zip_path = _build_package_zip()
    code = (
        "import sys; sys.path.insert(0, {z!r}); "
        "import hpc_hd_textreuse_etl_spark.operators.defrag, "
        "hpc_hd_textreuse_etl_spark.operators.clustering; "
        "print('ok')"
    ).format(z=zip_path)
    env = dict(os.environ)
    # drop the repo root so the import can only come from the zip
    env["PYTHONPATH"] = ""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_package_zip_dir_removed_at_exit(tmp_path):
    """Each session that ships the package builds a fresh zip; its dir
    must not outlive the interpreter that made it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from hpc_hd_textreuse_etl_spark.session import _build_package_zip\n"
        "print(_build_package_zip())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True,
        check=True, env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    made = os.path.dirname(out.stdout.strip())
    assert os.path.dirname(made) == str(tmp_path)
    assert os.path.basename(made).startswith("spark-pkg-")
    assert not os.path.exists(made)


@pytest.mark.slow  # soak tier, default-off (round-12 verify-window fix; run with -m slow)
def test_retry_determinism_under_injected_task_failures():
    """SCALE.md's retry claim, executed: with master local[8,2] every
    task of the input stage fails its first attempt, and the seeded
    hash_sample → minhash → chinese_whispers chain must produce
    bit-identical output vs the no-fault run (fault_injection_script.py;
    separate process because the shared local[N] session never retries
    tasks)."""
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "fault_injection_script.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "FAULT-DETERMINISM-OK" in out.stdout
