"""The operators package docstring is the human map of the engine —
every module must import cleanly and appear in the index (a module
missing from the map is invisible to the next reader). Every module of
the package must also be imported by some entry point, and every
top-level function or class of the package must be called from one,
bar an explicit allow-list of symbols that may only shrink."""

from __future__ import annotations

import ast
import functools
import glob
import importlib
import os
import pkgutil
import re
import sys

sys.path.insert(0, "/root/repo")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "binance_data_pipeline_spark"


def test_every_operator_module_imports_and_is_indexed():
    import binance_data_pipeline_spark.operators as ops

    mods = [m.name for m in pkgutil.iter_modules(ops.__path__)]
    assert len(mods) == 26
    for m in mods:
        importlib.import_module(f"binance_data_pipeline_spark.operators.{m}")
    missing = [m for m in mods if m not in (ops.__doc__ or "")]
    assert missing == [], f"modules absent from the package index: {missing}"


# Every non-test source file: the package, the benchmarks and the scripts.
_SOURCES = (
    f"{PKG}/**/*.py",
    "bench.py",
    "perfbench/*.py",
    "scripts/*.py",
    "__spark_entry__.py",
)


@functools.lru_cache(maxsize=1)
def _parsed() -> dict[str, ast.Module]:
    """Repo-relative path -> AST of every non-test source file."""
    out = {}
    for pat in _SOURCES:
        for path in glob.glob(os.path.join(REPO, pat), recursive=True):
            if os.path.basename(path).startswith("test_"):
                continue
            with open(path) as f:
                out[os.path.relpath(path, REPO)] = ast.parse(f.read(), path)
    return out


# ---- module reachability ------------------------------------------------------

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


def _module_file(name: str, here: str | None) -> str | None:
    """Repo-relative file of dotted module ``name``: a repo-rooted module
    or package, else a sibling of the importing script
    (``from common import ...``)."""
    rel = name.replace(".", os.sep)
    for base in ("", here) if here is not None else ("",):
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            path = os.path.normpath(os.path.join(base, cand))
            if path in _parsed():
                return path
    return None


def _imported_names(tree: ast.Module, package: str | None) -> set[str]:
    """Every module name ``tree`` imports, at any depth of the AST (lazy
    in-function imports included), with parent packages and the
    ``from pkg import submodule`` form expanded."""
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
    point reaches is dead code (wire it in or delete it)."""
    sources = _parsed()
    todo = [
        os.path.relpath(p, REPO)
        for pat in _ROOTS
        for p in glob.glob(os.path.join(REPO, pat))
    ]
    seen: set[str] = set()
    while todo:
        rel = todo.pop()
        if rel in seen:
            continue
        seen.add(rel)
        package = None
        if rel.startswith(PKG + os.sep):
            package = os.path.dirname(rel).replace(os.sep, ".")
        # scripts import their siblings by bare name; package modules can't
        here = None if package else os.path.dirname(rel)
        for name in _imported_names(sources[rel], package):
            target = _module_file(name, here)
            if target is not None:
                todo.append(target)

    unreachable = sorted(
        rel for rel in sources if rel.startswith(PKG + os.sep) and rel not in seen
    )
    assert unreachable == [], (
        f"modules no entry point imports (wire them in or delete them): {unreachable}"
    )


# ---- symbol reachability ------------------------------------------------------

# Top-level package defs that no entry point calls, as "module:name" with
# the module path relative to the package. Each is the top of a call
# chain: everything it calls counts as live. Every entry is to be wired
# into an entry point or deleted; the list may only shrink.
_UNCALLED_ALLOWED = {
    # paper entry points: stages of the reference pipeline (PAPER.md) that
    # ingest, jobs, the scheduler and the CLI do not drive yet — the DAG
    # cadence, the real-time marts, the Kafka producer/consumer records,
    # the BigQuery-load and dbt semantics; each is to be wired in or deleted
    "scheduler:Scheduler",
    "streaming/analytics:dedup_within_watermark",
    "streaming/analytics:ohlcv_bars",
    "streaming/analytics:session_bursts",
    "streaming/analytics:stream_asof_quotes",
    "streaming/sinks:dual_write_stream",
    "sources/json_envelope:parse_flat_record",
    "sources/json_envelope:to_kafka_payload",
    "catalog:append_with_schema_evolution",
    "operators/cleaning:staging_schema_check",
    "operators/incremental:merge_upsert",
    "quality:suite_from_yaml",
    "sql_models:model_df",
    # test references: fixtures and probes the tests drive live code with
    "catalog:register_testdata",
    "lifecycle:persistent_rdd_count",
    "plans/audit:assert_scale_clean",
    "operators/asof:asof_join",
    "operators/embedder:stub_encoder",
    "operators/metacache:invalidate_meta",
    "operators/retrieval:stub_scorer",
    "sources/csv_rules:rules_from_rows",
}

_WORD = re.compile(r"[A-Za-z_]\w*")


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _refs(node: ast.AST) -> set[str]:
    """Every name ``node`` references: a ``Name``, an ``Attribute``, an
    import alias, or a word in a string that is neither a docstring nor
    part of ``__all__``."""
    skip: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if n.body and _is_docstring(n.body[0]):
                skip.add(id(n.body[0].value))
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            skip.update(id(m) for m in ast.walk(n.value))
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update({n.name.rsplit(".", 1)[-1], n.asname} - {None})
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if id(n) not in skip:
                out.update(_WORD.findall(n.value))
    return out


def _symbol_key(rel: str, name: str) -> str:
    mod = rel[: -len(".py")]
    if mod.startswith(PKG + os.sep):
        mod = mod[len(PKG) + 1 :]
    return f"{mod.replace(os.sep, '/')}:{name}"


def test_only_allow_listed_symbols_are_uncalled():
    """Symbol closure over every non-test source file. All module-level
    code outside undecorated top-level defs is live, and so are the
    allow-listed defs; an undecorated top-level def or class becomes live
    once a live body references its name, to a fixpoint. A package def
    that stays dead is code no entry point calls; an allow-listed def
    that another live body now calls, or that is gone, must leave the
    list."""
    defs: dict[str, tuple[str, set[str], bool]] = {}
    module_refs: set[str] = set()
    for rel, tree in _parsed().items():
        rest = []
        for stmt in tree.body:
            if (
                isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not stmt.decorator_list
            ):
                in_pkg = rel.startswith(PKG + os.sep)
                defs[_symbol_key(rel, stmt.name)] = (stmt.name, _refs(stmt), in_pkg)
            else:
                rest.append(stmt)
        module_refs |= _refs(ast.Module(body=rest, type_ignores=[]))

    live = _UNCALLED_ALLOWED & defs.keys()
    live_refs = module_refs.union(*(defs[k][1] for k in live))
    grew = True
    while grew:
        grew = False
        for key, (name, refs, _) in defs.items():
            if key not in live and name in live_refs:
                live.add(key)
                live_refs |= refs
                grew = True

    dead = sorted(
        key for key, (_, _, in_pkg) in defs.items()
        if in_pkg and key not in live
    )
    assert dead == [], (
        f"package defs no entry point calls (wire them in or delete them): {dead}"
    )
    gone = sorted(_UNCALLED_ALLOWED - defs.keys())
    called = sorted(
        key for key in _UNCALLED_ALLOWED & defs.keys()
        if defs[key][0] in module_refs.union(
            *(defs[k][1] for k in live if k != key)
        )
    )
    assert gone + called == [], (
        f"allow-listed defs that are now called or gone (drop them from "
        f"_UNCALLED_ALLOWED): {gone + called}"
    )
