"""Every ``localmod_spark`` module and top-level definition is reached
from some entry point.

The entry points are ``__spark_entry__.py``, the two bench CLIs, the
benchmark harness, the scripts and the batch job ``submit_job``.  The
module closure follows every ``import`` statement (also those inside
functions) through the repo's own files, so a module that only tests
import fails.  The definition closure is by name: a top-level ``def`` or
``class`` is reached when reached code names it (a name, an attribute or
a ``from m import`` target), and its body then counts as reached code.
Reached code starts as the entry files and the module-level statements
of every reached package module, so a definition that only tests call
fails.  A package ``__init__``'s ``from m import x`` is not a reach: a
re-export that only tests import through the package does not keep
``x`` alive.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "localmod_spark"

# Definitions that only tests reach, kept as the reference a test
# compares the reached code against.
REFERENCE_ONLY = {
    "localmod_spark.operators.similarity.ivf_topk":
        "single-query IVF oracle that tests compare ivf_join_topk against",
    "localmod_spark.plans.ann_truth._fingerprint":
        "per-side fingerprint that tests rebuild truth_key from",
}


def _entry_files() -> list[str]:
    files = [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    files += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    files += glob.glob(os.path.join(REPO, "scripts", "*.py"))
    files.append(os.path.join(REPO, PACKAGE, "plans", "submit_job.py"))
    return sorted(files)


def _module_file(name: str) -> str | None:
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _imported_names(path: str) -> set[str]:
    """Dotted names a file imports; ``from m import x`` yields ``m`` and ``m.x``."""
    tree = _parse(path)
    own = _module_name(path)
    package = own if path.endswith("__init__.py") else own.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module
            names.add(mod)
            names.update(f"{mod}.{alias.name}" for alias in node.names)
    # Importing a.b.c runs the __init__ of a and a.b as well.
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def _reached_modules() -> set[str]:
    todo = _entry_files()
    seen = {_module_name(p) for p in todo}
    while todo:
        path = todo.pop()
        for name in _imported_names(path):
            target = _module_file(name)
            if target is not None and name not in seen:
                seen.add(name)
                todo.append(target)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {
        _module_name(p)
        for p in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    }
    unreached = sorted(modules - _reached_modules())
    assert unreached == [], f"modules no entry point imports: {unreached}"


def _referenced_names(nodes) -> set[str]:
    names: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                names.update(alias.name for alias in n.names)
    return names


def _unreached_definitions() -> list[str]:
    defs = {}
    reached_code: list[ast.AST] = [_parse(p) for p in _entry_files()]
    for name in _reached_modules():
        path = _module_file(name)
        if path is None or not name.startswith(PACKAGE):
            continue
        is_init = path.endswith("__init__.py")
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{name}.{node.name}"] = node
            elif not (is_init and isinstance(node, ast.ImportFrom)):
                reached_code.append(node)
    used = _referenced_names(reached_code)
    todo = dict(defs)
    grew = True
    while grew:
        grew = False
        for qual, node in list(todo.items()):
            if node.name in used:
                del todo[qual]
                used |= _referenced_names([node])
                grew = True
    return sorted(todo)


def test_every_package_definition_is_reached_from_an_entry_point():
    unreached = _unreached_definitions()
    extra = [d for d in unreached if d not in REFERENCE_ONLY]
    assert extra == [], f"definitions no entry point reaches: {extra}"
    stale = sorted(set(REFERENCE_ONLY) - set(unreached))
    assert stale == [], f"reference-only entries that are reached or gone: {stale}"
