"""Reachability guard: every module of the package must be reached by an
import chain from one of the non-test surfaces (`__spark_entry__.py`, the
spark-submit job, the bench scripts, the benchmark harness and the tools).

A module that only tests import is library surface nothing runs: delete it,
or wire it into a surface and record in COVERAGE.md why it stays. The walk
is static (AST): top-level and nested imports, relative imports, and string
literals in files that import ``importlib`` (``perfbench/tracing.py`` imports
its hooked modules by name)."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdf_parser_benchmark_spark"

SURFACES = [
    "__spark_entry__.py",
    f"{PKG}/queries.py",
    f"{PKG}/plans/job.py",
    "bench.py",
    *sorted(os.path.relpath(p, ROOT) for p in glob.glob(f"{ROOT}/perfbench/*.py")),
    *sorted(os.path.relpath(p, ROOT) for p in glob.glob(f"{ROOT}/tools/*.py")),
]


def _package_modules() -> dict[str, str]:
    """Dotted module name -> repo-relative path, for every package file."""
    mods = {}
    for path in glob.glob(f"{ROOT}/{PKG}/**/*.py", recursive=True):
        rel = os.path.relpath(path, ROOT)
        name = rel[:-3].replace(os.sep, ".")
        mods[name.removesuffix(".__init__")] = rel
    return mods


def _module_of(rel: str) -> str | None:
    if not rel.startswith(PKG + "/"):
        return None
    return rel[:-3].replace("/", ".").removesuffix(".__init__")


def _imported_names(rel: str, mods: dict[str, str]) -> set[str]:
    """Package modules one file imports (directly, nested, relative, or by
    an importlib string literal)."""
    tree = ast.parse(open(os.path.join(ROOT, rel)).read(), filename=rel)
    me = _module_of(rel)
    is_pkg_init = rel.endswith("__init__.py")
    names: set[str] = set()
    uses_importlib = False
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                names.add(a.name)
                uses_importlib |= a.name == "importlib"
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = me.split(".") if me else []
                if not is_pkg_init:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            names.add(base)
            uses_importlib |= base == "importlib"
            for a in node.names:
                names.add(f"{base}.{a.name}")
    if uses_importlib:
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                names.update({node.value, f"{PKG}.{node.value}"})
    reached = set()
    for n in names:
        # importing a.b.c runs a/__init__ and a/b/__init__ too
        parts = n.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                reached.add(prefix)
    return reached


def unreached_modules() -> list[str]:
    mods = _package_modules()
    seen: set[str] = set()
    todo = list(SURFACES)
    done_files: set[str] = set()
    while todo:
        rel = todo.pop()
        if rel in done_files:
            continue
        done_files.add(rel)
        me = _module_of(rel)
        if me is not None:
            seen.add(me)
        for m in _imported_names(rel, mods) - seen:
            seen.add(m)
            todo.append(mods[m])
    return sorted(mods[m] for m in set(mods) - seen)


def test_every_package_module_is_reached_from_a_surface():
    missing = [s for s in SURFACES if not os.path.isfile(os.path.join(ROOT, s))]
    assert not missing, missing
    assert unreached_modules() == []
