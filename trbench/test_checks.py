"""The benchmark's output checks bite: a damaged output makes the command
fail. Each case starts a Spark session (one to two minutes each).

    python3 -m pytest trbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "trbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,table", [
    ("reuse_etl", "defrag_pieces"),
    ("reuse_serving", "answers"),
    ("reuse_etl", "curation"),
])
def test_corrupted_output_fails_the_run(workload, table):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", "0", "--corrupt", table)
    assert p.returncode == 1, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert "output checks failed" in p.stderr


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "trbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "reuse_etl", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_self_time_subtracts_overlapping_children():
    sys.path.insert(0, ROOT)
    from trbench.trace import Tracer

    tr = Tracer(spark=None, enabled=False, run_id="t")
    tr.spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 3.5, "end": 4.5},
    ]
    selfs = tr.self_times()
    assert selfs[1] == pytest.approx(5.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)


def test_cpu_time_counts_child_processes():
    sys.path.insert(0, ROOT)
    from trbench import proc

    before = proc.cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert proc.cpu_s() - before >= 0.4
