"""Every package module imports and every ``__all__`` entry resolves.

Deleting code leaves two kinds of debris no behavioural test sees: a
stale name in some ``__all__`` and an import of a module that is gone.
"""

from __future__ import annotations

import importlib
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
