"""Every package module imports, every ``__all__`` entry resolves, and
every module is reached from an entry point.

Deleting code leaves two kinds of debris no behavioural test sees: a
stale name in some ``__all__`` and an import of a module that is gone.
Adding code can leave a third: a module nothing but the tests imports.
"""

from __future__ import annotations

import ast
import importlib
import os
import pkgutil

import pytest

import name_match_latest_spark as pkg

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(pkg.__path__, prefix=f"{pkg.__name__}.")
    if not m.name.endswith(".__main__")
)


@pytest.mark.parametrize("name", [pkg.__name__, *MODULES])
def test_module_imports_and_exports_resolve(name):
    mod = importlib.import_module(name)
    missing = [n for n in getattr(mod, "__all__", ()) if not hasattr(mod, n)]
    assert not missing, f"{name}.__all__ names missing attributes: {missing}"


#: package modules no entry point imports, each with the reason it stays
UNREACHED_ALLOWED = {
    f"{pkg.__name__}.oracle": "the pure-Python reference the tests check against",
    f"{pkg.__name__}.sources.synth": "perfbench and scripts/bench_scaling.py import it",
}

ENTRY_POINTS = ["cli", "webcli", "curatecli", "driver_queries", "__main__"]


def _source_path(name):
    rel = name.split(".")[1:]
    base = os.path.join(os.path.dirname(pkg.__file__), *rel)
    return os.path.join(base, "__init__.py") if os.path.isdir(base) else base + ".py"


def _imports(name, known):
    """Package modules that ``name``'s source imports anywhere in its
    body, function-level imports included, without running it."""
    path = _source_path(name)
    here = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read())
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = here.rsplit(".", node.level - 1)[0] if node.level else ""
            mod = ".".join(p for p in (base, node.module) if p)
            targets = [mod, *(f"{mod}.{a.name}" for a in node.names)]
        else:
            continue
        for t in targets:
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            parts = t.split(".")
            out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)} & known
    return out


def test_every_module_is_reached_from_an_entry_point():
    """The static import closure of the CLIs, the driver queries and
    ``__main__`` covers every package module but the allowlisted ones:
    a module only tests reach is surface nothing runs."""
    known = {pkg.__name__, f"{pkg.__name__}.__main__", *MODULES}
    todo = [f"{pkg.__name__}.{e}" for e in ENTRY_POINTS]
    seen = set(todo)
    while todo:
        for dep in _imports(todo.pop(), known) - seen:
            seen.add(dep)
            todo.append(dep)
    assert known - seen == set(UNREACHED_ALLOWED)


def _names(path):
    """Every identifier ``path``'s source binds, reads or imports."""
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name


def test_birthdate_keys_are_joined_in_one_module():
    """The swap-aware birthdate key array is defined in ``dates`` and
    exploded only by ``blocking.birthdate_pairs``: no other module
    builds its own birthdate-key join."""
    users = {
        m for m in [pkg.__name__, *MODULES]
        if "bd_key_array_col" in set(_names(_source_path(m)))
    }
    assert users == {
        f"{pkg.__name__}.operators.dates",
        f"{pkg.__name__}.operators.blocking",
    }
