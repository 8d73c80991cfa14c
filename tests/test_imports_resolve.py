"""Every reference to a package module from the scripts around the
package must resolve. The default test run executes neither the
examples nor the slow tier, so a dangling import there would otherwise
go unseen until someone runs the script. The pipeline's plan modules
must also import without pandas."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hpc_hd_textreuse_etl_spark"
SCAN = ("examples", "trbench", "tests", "__spark_entry__.py")
DOTTED = re.compile(re.escape(PKG) + r"((?:\.[A-Za-z_]\w*)+)")


def _py_files():
    for entry in SCAN:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _, files in os.walk(path):
            yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _references(path: str) -> set[str]:
    """Dotted package names in the file's text (imports, strings,
    docstrings) plus each name pulled in by ``from <pkg>... import``."""
    src = open(path, encoding="utf-8").read()
    refs = {PKG + m.group(1) for m in DOTTED.finditer(src)}
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            refs.update(f"{node.module}.{a.name}" for a in node.names)
    return refs


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:  # parent is a plain module, not a package
        return False


def _resolves(ref: str) -> bool:
    """The longest module prefix must exist, and whatever follows it
    must be an attribute chain of that module."""
    parts = ref.split(".")
    n = 1
    while n < len(parts) and _is_module(".".join(parts[: n + 1])):
        n += 1
    obj = importlib.import_module(".".join(parts[:n]))
    for name in parts[n:]:
        if not hasattr(obj, name):
            return False
        obj = getattr(obj, name)
    return True


def test_every_package_reference_resolves():
    dangling = sorted(
        f"{os.path.relpath(path, REPO)}: {ref}"
        for path in _py_files()
        for ref in _references(path)
        if not _resolves(ref)
    )
    assert not dangling, "\n".join(dangling)


def test_pipeline_plans_do_not_load_pandas():
    """The text-reuse DAG and curation run no pandas UDF, so importing
    their plans must not pay pandas' import time (about 0.4 s)."""
    code = (
        "import sys\n"
        f"import {PKG}.plans.textreuse, {PKG}.plans.curation\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "False"
