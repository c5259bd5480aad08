"""Parse-only guards over the package, tools/*.py, bench.py and tests/*.py.

Every import that names a repo file (``tools.X``, ``tests.X`` or a
sibling module the script finds on its own sys.path) must resolve to a
file that still exists, so deleting a tool cannot leave a kept one
importing it. No string literal holds the absolute checkout path: code
run from one checkout must read and import that checkout, so the path is
derived from ``__file__``. And only ``tables.py`` fingerprints sources
or evicts fixtures, and only two modules take a bare ``fixture_name``,
so every build-once artifact goes through ``tables.fixture``. Outside
the txn-log snapshot readers, every plain parquet read goes through
``tables.read_parquet``. Nothing is executed; third-party and stdlib
names are checked with find_spec."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SOURCES = sorted(
    glob.glob(os.path.join(TOOLS, "*.py"))
    + glob.glob(os.path.join(ROOT, "tests", "*.py"))
    + [os.path.join(ROOT, "bench.py")]
)
PACKAGE = sorted(
    glob.glob(os.path.join(ROOT, "aced_etl_pod_spark", "**", "*.py"), recursive=True)
)


def _imported(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            yield node.lineno, node.module


def _resolves(name: str, here: str) -> bool:
    top = name.split(".")[0]
    path = os.path.join(ROOT, *name.split("."))
    if os.path.isdir(os.path.join(ROOT, top)):  # repo package: tools.X, tests.X
        return os.path.isfile(path + ".py") or os.path.isdir(path)
    # a sibling script on the importer's own sys.path; tests also put
    # tools/ there to import the doc generator
    if any(os.path.isfile(os.path.join(d, top + ".py")) for d in (here, TOOLS)):
        return True
    return importlib.util.find_spec(top) is not None


def test_repo_imports_resolve():
    dangling = []
    for path in SOURCES:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        here = os.path.dirname(path)
        dangling += [
            f"{os.path.relpath(path, ROOT)}:{ln} {name}"
            for ln, name in _imported(tree)
            if not _resolves(name, here)
        ]
    assert not dangling, f"imports of files that no longer exist: {dangling}"


def test_sys_path_is_derived_not_literal():
    literal = []
    for path in SOURCES:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        literal += [
            f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and ast.unparse(node.func) == "sys.path.insert"
            and len(node.args) == 2
            and isinstance(node.args[1], ast.Constant)
            and isinstance(node.args[1].value, str)
            and os.path.isabs(node.args[1].value)
        ]
    assert not literal, f"literal absolute paths put on sys.path: {literal}"


def _parsed(paths):
    for path in paths:
        with open(path) as f:
            yield os.path.relpath(path, ROOT), ast.parse(f.read(), path)


def test_checkout_path_is_derived_not_literal():
    literal = [
        f"{rel}:{node.lineno}"
        for rel, tree in _parsed(SOURCES + PACKAGE)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and ROOT in node.value
    ]
    assert not literal, f"literal absolute checkout paths: {literal}"


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def _uses(names: set[str], allowed: set[str], tools: bool = True) -> list[str]:
    """``file:line name`` for every import, reference or string literal
    (docstrings aside) of ``names`` in the package (and tools/, unless
    ``tools`` is False) outside the ``allowed`` files. A dotted name such
    as ``read.parquet`` matches an attribute chain ending in it."""
    sites = []
    paths = PACKAGE + (glob.glob(os.path.join(TOOLS, "*.py")) if tools else [])
    for rel, tree in _parsed(paths):
        if rel in allowed:
            continue
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant):
                found = [node.value] if id(node) not in docs else []
            elif isinstance(node, ast.ImportFrom):
                found = [a.name for a in node.names]
            else:
                found = [getattr(node, "attr", getattr(node, "id", None))]
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Attribute):
                found.append(f"{node.value.attr}.{node.attr}")
            sites += [f"{rel}:{node.lineno} {n}" for n in found if n in names]
    return sites


TABLES = os.path.join("aced_etl_pod_spark", "tables.py")


def test_only_tables_fingerprints_and_evicts_fixtures():
    """A module that reads ``st_mtime_ns`` or calls ``evict_stale_fixtures``
    is hand-rolling the build-once protocol ``tables.fixture`` owns."""
    sites = _uses({"st_mtime_ns", "evict_stale_fixtures"}, {TABLES})
    assert not sites, f"fixture protocol outside tables.py: {sites}"


def test_scratch_tables_are_built_through_fixture():
    """A bare ``fixture_name`` names a shared-scratch dir that no
    ``tables.fixture`` publishes, so its builder needs its own
    completion check. Only the ``mv_*`` snapshots that later ops mutate
    in place (incremental_ops.py) and the event-type dictionary's cache
    key (aggs.py) take a bare name."""
    ops = os.path.join("aced_etl_pod_spark", "operators")
    allowed = {
        TABLES,
        os.path.join(ops, "incremental_ops.py"),
        os.path.join(ops, "aggs.py"),
    }
    sites = _uses({"fixture_name"}, allowed)
    assert not sites, f"fixture_name outside tables.fixture: {sites}"


def test_parquet_reads_go_through_read_parquet():
    """A bare ``spark.read.parquet`` re-infers the schema from the
    footers, one Spark job per read; ``tables.read_parquet`` remembers it.
    Only the txn-log snapshot reads, which name their files from the log,
    read parquet themselves. A schema-pinned ``read.schema(s).parquet``
    starts no inference job and is not flagged."""
    allowed = {
        TABLES,
        os.path.join("aced_etl_pod_spark", "sources", "txnlog.py"),
        os.path.join("aced_etl_pod_spark", "operators", "table_format.py"),
    }
    sites = _uses({"read.parquet"}, allowed, tools=False)
    assert not sites, f"parquet reads outside tables.read_parquet: {sites}"


def test_only_session_sizes_the_driver_heap():
    """``session.get_spark`` sizes the heap from ``SPARK_DRIVER_MEM``, else
    half of RAM; a harness that sets ``spark.driver.memory`` itself can
    ask a small machine for more memory than it has."""
    session = os.path.join("aced_etl_pod_spark", "session.py")
    sites = _uses({"spark.driver.memory"}, {session})
    assert not sites, f"driver heap set outside session.py: {sites}"
