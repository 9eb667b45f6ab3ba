"""Every package module is reached from a program root.

Walks ``import`` / ``from ... import`` statements with ``ast`` (imports
inside functions included) from the repo's entry points:
``__spark_entry__.py``, the bench harnesses, ``scripts/``, ``perfbench/``
and every ``cli/`` module.  A package module no root reaches is dead code:
either delete it or give it a caller.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sciencebeam_trainer_grobid_tools_spark"


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _package_modules() -> dict:
    paths = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    return {_module_name(p): p for p in paths}


def _roots() -> list:
    patterns = [
        "__spark_entry__.py",
        "bench.py",
        "bench_extra.py",
        os.path.join("scripts", "*.py"),
        os.path.join("perfbench", "**", "*.py"),
        os.path.join(PACKAGE, "cli", "*.py"),
    ]
    paths = []
    for pattern in patterns:
        paths += glob.glob(os.path.join(REPO, pattern), recursive=True)
    return sorted(paths)


def _imported_names(path: str) -> set:
    """Absolute dotted names a file imports.  ``from x import y`` yields
    both ``x`` and ``x.y``: y may be a submodule."""
    module = _module_name(path)
    is_package = path.endswith("__init__.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = module.split(".")
                if not is_package:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            names.update(base + "." + alias.name for alias in node.names)
    return names


def reached_modules() -> set:
    modules = _package_modules()
    todo = _roots()
    reached = {_module_name(p) for p in todo} & set(modules)
    while todo:
        for name in _imported_names(todo.pop()):
            # importing a.b.c runs a, a.b and a.b.c
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append(modules[prefix])
    return reached


def test_every_package_module_is_reached():
    unreached = sorted(
        name[len(PACKAGE) + 1 :] for name in set(_package_modules()) - reached_modules()
    )
    assert unreached == []
