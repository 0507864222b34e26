"""The benchmark lanes stand apart from the demo inventory: no lane module
imports ``plans.*`` or ``operators.traindata*``, at module level or inside
a function. Parsed with ``ast`` (no import, no Spark), so deleting demo
modules stays a mechanical change."""

from __future__ import annotations

import ast
import os
import sys

import pytest

PKG = "gjenbruksstasjoner_kotid_estimering_spark"
PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

LANE_MODULES = (
    "operators.dedup",
    "operators.similarity",
    "operators.clusters",
    "operators.merge_tx",
    "operators.upsert",
    "functions.estimator",
    "ml.models",
    "sources.images",
    "sources.jpeg",
)


def imported_modules(module: str) -> set[str]:
    """Absolute names (package prefix dropped) of every module the given
    package module imports, with relative imports resolved; for
    ``from X import a`` both X and X.a are listed, since a may be a
    submodule."""
    path = os.path.join(PKG_DIR, *module.split(".")) + ".py"
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    package = module.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                parts = base + (node.module.split(".") if node.module else [])
                name = ".".join([PKG, *parts])
            else:
                name = node.module
            found.add(name)
            found.update(f"{name}.{a.name}" for a in node.names)
    prefix = PKG + "."
    return {n[len(prefix):] for n in found if n.startswith(prefix)}


def is_demo(name: str) -> bool:
    return name == "plans" or name.startswith("plans.") or name.startswith("operators.traindata")


def test_import_resolution():
    """Relative imports resolve against the module's own package."""
    got = imported_modules("operators.clusters")
    assert {"registry", "session", "operators.dedup"} <= got
    assert {"functions.estimator", "operators.asof_interp"} <= imported_modules("operators.upsert")


@pytest.mark.parametrize("module", LANE_MODULES)
def test_lane_module_imports_no_demo_code(module):
    demo = sorted(n for n in imported_modules(module) if is_demo(n))
    assert not demo, f"{module} imports demo modules: {demo}"


def test_worker_daemon_imports_only_stdlib_and_pyspark_daemon():
    """Every Python worker forks from ``pydaemon``: it imports only the
    standard library and ``pyspark.daemon``, nothing of the package (not
    ``registry``, no lane module), so the daemon starts cheaply."""
    assert imported_modules("pydaemon") == set()
    with open(os.path.join(PKG_DIR, "pydaemon.py")) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, "relative import"
            names.update(f"{node.module}.{a.name}" for a in node.names)
    other = {n for n in names if n.split(".")[0] not in sys.stdlib_module_names}
    assert other == {"pyspark.daemon"}
