"""Structure of ``postgresql_cdc_spark.plans``: the domain modules share
code only through public names.

A plans module that imports an underscore name from another plans module
couples itself to that module's internals; a shared helper belongs in
``plans/common.py`` (or, public, in the module that owns it). The check
reads the source, so it also covers imports inside function bodies.
"""

from __future__ import annotations

import ast
import os

PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "postgresql_cdc_spark", "plans")
PKG = "postgresql_cdc_spark.plans"


def _plans_modules() -> list[str]:
    return sorted(f for f in os.listdir(PLANS) if f.endswith(".py"))


def test_no_private_imports_between_plans_modules():
    offenders = []
    for fn in _plans_modules():
        with open(os.path.join(PLANS, fn)) as f:
            tree = ast.parse(f.read(), fn)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            if node.module != PKG and not (node.module or "").startswith(PKG + "."):
                continue
            offenders += [
                f"{fn}:{node.lineno} {node.module}.{a.name}"
                for a in node.names if a.name.startswith("_")
            ]
    assert not offenders, offenders


def test_one_table_reader():
    """Fixture tables are read through ``common.T`` alone, so the corpus
    fan-out policy lives in one place."""
    offenders = []
    for fn in _plans_modules():
        with open(os.path.join(PLANS, fn)) as f:
            tree = ast.parse(f.read(), fn)
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "T" \
                    and fn != "common.py":
                offenders.append(f"{fn}:{node.lineno} def T")
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and "sf_dir" in ast.unparse(node)
                    and fn != "common.py"):
                offenders.append(f"{fn}:{node.lineno} {ast.unparse(node)}")
    assert not offenders, offenders
