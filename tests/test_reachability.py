"""Every package module, function and class is reached from a program root.

The roots are the repo's entry points: ``__spark_entry__.py``, the bench
harnesses, ``scripts/``, ``perfbench/`` and every ``cli/`` module.

Modules: walks ``import`` / ``from ... import`` statements with ``ast``
(imports inside functions included) from the roots.

Top-level defs: a root file's whole body is live, and so is the module-level
code of every package module (it runs on import).  A top-level function or
class is live once a live body names it, by a ``Name``, an ``Attribute`` or
an identifier-shaped string (``getattr`` / patch-by-name dispatch, such as
``perfbench/tracer.py``'s table); docstrings do not count, and neither does
a bare import.  Its own body is then live too.  Names are matched, not
resolved, so a def that shares its name with a live one passes: the check
errs toward keeping code.

A module or def no root reaches is dead code: delete it or give it a
caller.  ``ALLOWED_UNREACHED`` names the few defs kept without a caller.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sciencebeam_trainer_grobid_tools_spark"

# "<module under the package>.<def>" -> why it stays without a program caller
ALLOWED_UNREACHED = {
    "plans.auto_annotate.regex_change_name": (
        "public API port: the reference's regex_change_name"
    ),
    "operators.matching.read_debug_matches": (
        "public API port: reads the reference's --debug-match CSV output"
    ),
    "operators.matching.list_debug_match_files": (
        "public API port: read_debug_matches's file lister"
    ),
    "kernel.fuzzy.fuzzy_search_index_range": (
        "public API port: the reference's fuzzy_search_index_range"
    ),
    "kernel.fuzzy.strided_matching_blocks": (
        "public API port: the reference's StridedMatchingBlocks"
    ),
    "operators.urlnorm.canonical_url": (
        "test oracle: the row-wise spec of _with_staged_canonical"
    ),
    "sources.fs.register_filesystem": (
        "deployment seam: where an object-store filesystem plugs in"
    ),
}


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


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _imported_names(path: str) -> set:
    """Absolute dotted names a file imports.  ``from x import y`` yields
    both ``x`` and ``x.y``: y may be a submodule."""
    module = _module_name(path)
    is_package = path.endswith("__init__.py")
    names = set()
    for node in ast.walk(_parse(path)):
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


_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module,) + _DEF_TYPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                ids.add(id(first.value))
    return ids


def _references(nodes: list, docstrings: set) -> set:
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
                and id(node) not in docstrings
            ):
                names.add(node.value)
    return names


def unreached_defs() -> set:
    """``"<module under the package>.<name>"`` of every top-level package
    function or class that no live body names."""
    root_paths = set(_roots())
    live = set()
    pending = {}  # def name -> [(qualified name, node, docstrings), ...]
    for path in root_paths - set(_package_modules().values()):
        tree = _parse(path)
        live |= _references([tree], _docstrings(tree))
    for module, path in _package_modules().items():
        tree = _parse(path)
        docstrings = _docstrings(tree)
        short = module[len(PACKAGE) + 1 :]
        top_level = []
        for node in tree.body:
            if isinstance(node, _DEF_TYPES):
                key = "%s.%s" % (short, node.name) if short else node.name
                pending.setdefault(node.name, []).append((key, node, docstrings))
            else:
                top_level.append(node)
        live |= _references(top_level, docstrings)
    todo = list(live)
    while todo:
        for _key, node, docstrings in pending.pop(todo.pop(), []):
            new = _references([node], docstrings) - live
            live |= new
            todo += new
    return {key for defs in pending.values() for key, _node, _ds in defs}


def test_every_package_module_is_reached():
    unreached = sorted(
        name[len(PACKAGE) + 1 :] for name in set(_package_modules()) - reached_modules()
    )
    assert unreached == []


def test_every_package_def_is_reached():
    assert sorted(unreached_defs() - set(ALLOWED_UNREACHED)) == []


def test_allow_list_names_only_unreached_defs():
    # an entry that gained a caller, or whose def is gone, must leave the list
    assert sorted(set(ALLOWED_UNREACHED) - unreached_defs()) == []
