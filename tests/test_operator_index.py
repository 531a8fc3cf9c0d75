"""The operators package docstring is the human map of the engine —
every module must import cleanly and appear in the index (a module
missing from the map is invisible to the next reader). Every module of
the package must also be imported by some entry point, bar an explicit
allow-list that may only shrink."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import pkgutil
import sys

sys.path.insert(0, "/root/repo")


def test_every_operator_module_imports_and_is_indexed():
    import binance_data_pipeline_spark.operators as ops

    mods = [m.name for m in pkgutil.iter_modules(ops.__path__)]
    assert len(mods) >= 35
    for m in mods:
        importlib.import_module(f"binance_data_pipeline_spark.operators.{m}")
    missing = [m for m in mods if m not in (ops.__doc__ or "")]
    assert missing == [], f"modules absent from the package index: {missing}"


# Entry points of the engine: the query catalog, the CLI, the job and
# scheduler surface, the streaming tier, the benchmarks and the scripts.
_ROOTS = (
    "binance_data_pipeline_spark/plans/*.py",
    "binance_data_pipeline_spark/catalog.py",
    "binance_data_pipeline_spark/__main__.py",
    "binance_data_pipeline_spark/jobs.py",
    "binance_data_pipeline_spark/scheduler.py",
    "binance_data_pipeline_spark/streaming/ingest.py",
    "binance_data_pipeline_spark/streaming/analytics.py",
    "binance_data_pipeline_spark/streaming/sinks.py",
    "bench.py",
    "perfbench/batch.py",
    "perfbench/bronze.py",
    "perfbench/common.py",
    "perfbench/run.py",
    "scripts/*.py",
    "__spark_entry__.py",
)

# Modules only tests reach today. Each is to be wired into an entry point
# or deleted; the list may only shrink.
_UNREACHABLE_ALLOWED = {
    "operators/skipping",
    "sources/ws_bridge",
}


def _module_file(repo: str, name: str, here: str | None) -> str | None:
    """File of dotted module ``name``: a repo-rooted module or package,
    else a sibling of the importing script (``from common import ...``)."""
    rel = name.replace(".", os.sep)
    for base in (repo, here) if here else (repo,):
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            path = os.path.join(base, cand)
            if os.path.isfile(path):
                return path
    return None


def _imported_names(path: str, package: str | None) -> set[str]:
    """Every module name ``path`` imports, at any depth of the AST (lazy
    in-function imports included), with parent packages and the
    ``from pkg import submodule`` form expanded."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bases, subs = [a.name for a in node.names], []
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = (package or "").split(".")
                parts = parts[: len(parts) - node.level + 1] + [base]
                base = ".".join(p for p in parts if p)
            bases, subs = [base], [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in bases + subs:
            parts = name.split(".")
            names.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return names


def test_only_allow_listed_modules_are_unreachable():
    """AST import closure from the entry points: a module that no entry
    point reaches is dead code, and an allow-listed module that became
    reachable must leave the list."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_dir = os.path.join(repo, "binance_data_pipeline_spark")
    todo = [p for pat in _ROOTS for p in glob.glob(os.path.join(repo, pat))]
    seen: set[str] = set()
    while todo:
        path = os.path.realpath(todo.pop())
        if path in seen:
            continue
        seen.add(path)
        rel = os.path.relpath(path, repo)
        package = None
        if rel.startswith("binance_data_pipeline_spark" + os.sep):
            package = os.path.dirname(rel).replace(os.sep, ".")
        # scripts import their siblings by bare name; package modules can't
        here = None if package else os.path.dirname(path)
        for name in _imported_names(path, package):
            target = _module_file(repo, name, here)
            if target is not None:
                todo.append(target)

    unreachable = set()
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        if os.path.realpath(path) not in seen:
            unreachable.add(os.path.relpath(path, pkg_dir)[: -len(".py")])
    newly_dead = sorted(unreachable - _UNREACHABLE_ALLOWED)
    assert newly_dead == [], (
        f"modules no entry point imports (wire them in or delete them): {newly_dead}"
    )
    now_live = sorted(_UNREACHABLE_ALLOWED - unreachable)
    assert now_live == [], (
        f"allow-listed modules that are now reachable or gone (drop them from "
        f"_UNREACHABLE_ALLOWED): {now_live}"
    )
