"""Every ``localmod_spark`` module is imported from some entry point.

The entry points are ``__spark_entry__.py``, the two bench CLIs, the
benchmark harness, the scripts and the batch job ``submit_job``.  The
closure follows every ``import`` statement (also those inside functions)
through the repo's own files, so a module that only tests import fails.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "localmod_spark"


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


def _imported_names(path: str) -> set[str]:
    """Dotted names a file imports; ``from m import x`` yields ``m`` and ``m.x``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
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
