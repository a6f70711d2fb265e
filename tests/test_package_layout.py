"""Spark-free layout checks that fail in seconds: every module of the
package imports (a stale import of a deleted or renamed module), and
every Python path README.md cites exists (a stale doc path)."""

from __future__ import annotations

import importlib
import pkgutil
import re
from pathlib import Path

import namegraph_collections_spark

REPO = Path(__file__).resolve().parent.parent
PACKAGE = Path(namegraph_collections_spark.__file__).parent


def test_every_package_module_imports():
    failed = {}
    for mod in pkgutil.walk_packages(
        namegraph_collections_spark.__path__, "namegraph_collections_spark."
    ):
        try:
            importlib.import_module(mod.name)
        except Exception as e:  # noqa: BLE001 — report every broken module at once
            failed[mod.name] = repr(e)
    assert not failed


def test_readme_cites_only_existing_python_files():
    """A cited path is relative to the repo root or to the package."""
    cited = set(re.findall(r"[\w./-]*\w\.py\b", (REPO / "README.md").read_text()))
    assert cited
    missing = sorted(p for p in cited if not ((REPO / p).exists() or (PACKAGE / p).exists()))
    assert not missing
