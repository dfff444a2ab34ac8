"""Import surface of ``pyshp_spark``, with no Spark session.

Every module under the package imports, and every name a module lists
in ``__all__`` resolves.  A deleted helper whose re-export or import
was left behind fails here, not in whichever test happens to import
that module first.
"""

import importlib
import pkgutil

import pytest

import pyshp_spark

_WALK_ERRORS: list[str] = []
MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        pyshp_spark.__path__, "pyshp_spark.", onerror=_WALK_ERRORS.append
    )
)


def test_walk_is_complete():
    # walk_packages imports each subpackage to list its modules; a
    # failing one would silently hide its submodules from MODULES
    assert _WALK_ERRORS == []
    assert "pyshp_spark.operators.spatial" in MODULES
    # keeps the __all__ check below from passing vacuously
    assert any(hasattr(importlib.import_module(n), "__all__") for n in MODULES)


@pytest.mark.parametrize("name", MODULES)
def test_module_imports_and_all_resolves(name):
    mod = importlib.import_module(name)
    missing = [n for n in getattr(mod, "__all__", ()) if not hasattr(mod, n)]
    assert missing == [], f"{name}.__all__ names missing attributes"
