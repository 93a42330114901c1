"""Reachability guard: every module of the package must be reached by an
import chain from one of the non-test surfaces (`__spark_entry__.py`, the
spark-submit job, the bench scripts, the benchmark harness and the tools).

A module that only tests import is library surface nothing runs: delete it,
or wire it into a surface and record in COVERAGE.md why it stays. The same
holds one level down: every top-level function and class of the package is
named by some non-test file outside its own body, registered by a
decorator that stores it (``queries.query``), or listed in
``UNREFERENCED_KEPT`` with the reason it stays. The walk
is static (AST): top-level and nested imports, relative imports, and string
literals in files that import ``importlib`` (``perfbench/tracing.py`` imports
its hooked modules by name)."""

from __future__ import annotations

import ast
import glob
import os
import re

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


# Top-level definitions that no non-test file references, each kept on
# purpose. Everything else a non-test file does not name is deleted.
UNREFERENCED_KEPT = {
    ("sources/warc.py", "read_warc_pages_split"):
        "the only way to split one large .warc.gz across tasks; the carried "
        "WARC member-split item builds on it (COVERAGE.md)",
    ("sources/checkpoint.py", "compact_manifest"):
        "manifest maintenance between jobs: it folds the one file per commit "
        "batch per run into one file per split (COVERAGE.md)",
    ("synth/pages.py", "generate_pages_local"):
        "driver-side rows of the same generator for Spark-free test fixtures",
    ("extract/html_extractor.py", "parse_html_blocks_stdlib"):
        "the stdlib reference tokenizer the fast path is differentially "
        "tested against",
    ("extract/html_extractor.py", "parse_html_blocks_fast"):
        "the fast tokenizer without its stdlib fallback: the subject of the "
        "differential tests",
}
# decorators that register the function they wrap (queries.QUERIES)
REGISTERING_DECORATORS = {"query"}
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names_used(node: ast.AST) -> set[str]:
    """Identifiers a subtree refers to: names, attributes, imported names,
    and string literals that are one identifier (getattr-style lookups such
    as ``perfbench/tracing.py``'s hook table)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.add(n.value)
    return out


def _decorator_name(d: ast.expr) -> str | None:
    d = d.func if isinstance(d, ast.Call) else d
    return d.id if isinstance(d, ast.Name) else None


def unreferenced_definitions() -> list[tuple[str, str]]:
    """(package-relative path, name) of every top-level function or class
    that no non-test file references outside its own body."""
    pkg_files = sorted(_package_modules().values())
    surface_files = [s for s in SURFACES if not s.startswith(PKG + "/")]
    defs, used = [], set()
    for rel in pkg_files + surface_files:
        tree = ast.parse(open(os.path.join(ROOT, rel)).read(), filename=rel)
        for stmt in tree.body:
            names = _names_used(stmt)
            if rel in pkg_files and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names.discard(stmt.name)
                if not any(_decorator_name(d) in REGISTERING_DECORATORS
                           for d in stmt.decorator_list):
                    defs.append((os.path.relpath(rel, PKG), stmt.name))
            used |= names
    return sorted(d for d in defs if d[1] not in used)


def test_every_top_level_definition_is_referenced_outside_tests():
    assert unreferenced_definitions() == sorted(UNREFERENCED_KEPT)
