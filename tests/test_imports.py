"""Every ``delta_rs_spark`` import in the package, the tests and the driver
contract resolves.

Many imports sit inside functions, so a module or name that is deleted or
renamed only fails when that code path runs. This walks the source with
``ast`` instead: each absolute or relative import of ``delta_rs_spark``,
at any depth, must name an existing module, and each ``from`` name must be
an attribute or a submodule of it.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "delta_rs_spark"


def _sources() -> list[str]:
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PACKAGE, "tests"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(paths)


def _module_of(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _imports(path: str):
    """Yield ``(line, module, names)`` for every delta_rs_spark import in
    ``path``; ``names`` is empty for a plain ``import``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    module = _module_of(path)
    is_pkg = path.endswith("__init__.py")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = module.split(".")
                base = parts if is_pkg else parts[:-1]
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            if target.split(".")[0] == PACKAGE:
                yield node.lineno, target, [a.name for a in node.names]


def _exists(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def test_every_package_import_resolves():
    unresolved = []
    for path in _sources():
        for line, target, names in _imports(path):
            where = f"{os.path.relpath(path, ROOT)}:{line}"
            if not _exists(target):
                unresolved.append(f"{where}: no module {target}")
                continue
            mod = importlib.import_module(target)
            for name in names:
                if name == "*" or hasattr(mod, name):
                    continue
                if not (hasattr(mod, "__path__") and _exists(f"{target}.{name}")):
                    unresolved.append(f"{where}: {target} has no {name}")
    assert not unresolved, "\n".join(unresolved)


def test_walk_sees_function_local_and_relative_imports():
    """The walk must reach the imports that only fail at run time: a
    function-local relative import in the package, and a function-local
    absolute import in a test."""
    found = {
        (os.path.relpath(path, ROOT), target)
        for path in _sources()
        for _line, target, _names in _imports(path)
    }
    assert ("delta_rs_spark/streaming/sink.py", "delta_rs_spark.table") in found
    assert ("tests/test_dml_fuzz.py", "delta_rs_spark.maintenance") in found
