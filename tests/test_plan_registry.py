"""The plan registry: plan modules own their keys, the registries only
merge them, and nothing below the registries imports them."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import pytest

from pyprima_spark.plans import core, queries
from pyprima_spark.plans.oracles import ORACLES
from pyprima_spark.plans.queries import GRADING_WINDOW, PLAN_MODULES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO, "pyprima_spark", "plans")
REGISTRIES = {"pyprima_spark.plans.queries", "pyprima_spark.plans.oracles"}


def test_operator_imports_do_not_load_the_registries():
    """Operators and functions may read plans.constants; that must not
    pull in the catalog (and with it every plan module)."""
    code = (
        "import sys\n"
        "import pyprima_spark.operators.dedup, pyprima_spark.functions.text\n"
        "print(sorted(m for m in sys.modules if m.startswith('pyprima_spark.plans')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True, timeout=120,
    ).stdout
    loaded = set(ast.literal_eval(out.strip()))
    assert not loaded & REGISTRIES, sorted(loaded)


def _imported_modules(tree: ast.Module) -> set[str]:
    """Dotted names each import statement can bind, relative ones
    resolved against pyprima_spark.plans."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(["pyprima_spark.plans"] + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def test_no_plan_module_imports_a_registry():
    offenders = {}
    for fname in sorted(os.listdir(PLANS_DIR)):
        if not fname.endswith(".py") or fname in ("queries.py", "oracles.py"):
            continue
        with open(os.path.join(PLANS_DIR, fname)) as fh:
            hits = _imported_modules(ast.parse(fh.read())) & REGISTRIES
        if hits:
            offenders[fname] = sorted(hits)
    assert not offenders, offenders


def test_each_key_plan_and_oracle_share_a_module():
    owner = {}
    for module in PLAN_MODULES:
        for key in module.ORACLES:
            owner[key] = module.__name__
    assert owner.keys() == QUERIES.keys()
    misplaced = {
        key: (QUERIES[key].__module__, mod)
        for key, mod in owner.items()
        if QUERIES[key].__module__ != mod
    }
    assert not misplaced, misplaced


def test_grading_window_leads_the_catalog():
    assert list(QUERIES)[:50] == list(GRADING_WINDOW)
    with open(os.path.join(REPO, "CORRECTNESS_r11.json")) as fh:
        assert set(GRADING_WINDOW) == set(json.load(fh))
    assert len(QUERIES) == len(ORACLES) == 392


def test_merge_rejects_a_key_defined_twice():
    merged = queries.merge([("mod_a", {"k1": 1}), ("mod_b", {"k2": 2})])
    assert merged == {"k1": 1, "k2": 2}
    with pytest.raises(ValueError, match=r"'shared'.*mod_a.*mod_b"):
        queries.merge([("mod_a", {"shared": 1}), ("mod_b", {"shared": 2})])


def _plan_module_trees() -> dict[str, ast.Module]:
    """AST of every plan module, keyed by module name; core included."""
    trees = {}
    for module in (*PLAN_MODULES, core):
        with open(module.__file__) as fh:
            trees[module.__name__.rsplit(".", 1)[1]] = ast.parse(fh.read())
    return trees


def test_plan_modules_import_only_core_and_constants():
    trees = _plan_module_trees()
    siblings = {f"pyprima_spark.plans.{name}" for name in trees} - {
        "pyprima_spark.plans.core"
    }
    offenders = {
        name: sorted(_imported_modules(tree) & siblings)
        for name, tree in trees.items()
        if _imported_modules(tree) & siblings
    }
    assert not offenders, offenders


def _top_level_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for leaf in ast.walk(target):
                    if isinstance(leaf, ast.Name) and isinstance(leaf.ctx, ast.Store):
                        names.add(leaf.id)
    return names - {"QUERIES", "ORACLES"}


def test_no_two_plan_modules_define_a_name():
    owners: dict[str, list[str]] = {}
    for name, tree in _plan_module_trees().items():
        for defined in _top_level_names(tree):
            owners.setdefault(defined, []).append(name)
    shared = {n: mods for n, mods in owners.items() if len(mods) > 1}
    assert not shared, shared


def test_core_registers_no_key():
    tree = _plan_module_trees()["core"]
    registers = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Name) and node.id in ("QUERIES", "ORACLES")
    ]
    assert not registers, registers
    assert core not in PLAN_MODULES


def test_plan_modules_are_named_by_domain():
    stale = [f for f in os.listdir(PLANS_DIR) if f.startswith("round")]
    assert not stale, stale


def test_no_plan_returns_a_sorted_frame():
    """Plans return unordered relations: every checker sorts rows, so a
    terminal global sort costs a range shuffle that no reader uses. A
    caller that wants an order sorts; top-k keeps ``orderBy().limit()``."""
    offenders = []
    for sub in ("plans", "streaming"):
        pkg = os.path.join(REPO, "pyprima_spark", sub)
        for fname in sorted(os.listdir(pkg)):
            if not fname.endswith(".py"):
                continue
            with open(os.path.join(pkg, fname)) as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{sub}/{fname}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Return)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Attribute)
                and node.value.func.attr in ("orderBy", "sort")
            ]
    assert not offenders, offenders
