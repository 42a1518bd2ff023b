"""Load the reference library's numpy-only modules standalone.

The reference package ``/root/reference/transformio`` is not
importable as a whole in this sandbox (its __init__ pulls in imwarp
which needs PIL), but ``transforms.py`` and ``accuracy.py`` only need
numpy at module scope — so we assemble a synthetic package around
them for direct behavior-parity testing.

The reference tree is a local checkout, not part of this repo. Tests
that compare against its modules carry ``requires_reference`` and take
the ``ref_transforms`` / ``ref_accuracy`` / ``ref_vector`` fixtures
(``conftest.py``); tests that open its data files carry
``needs_file(path, ...)``. Both skip where the files are absent and
run wherever they exist.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

_REF_DIR = "/root/reference/transformio"
REF_DATA_DIR = os.path.join(os.path.dirname(_REF_DIR), "tests", "data")
_NAMES = ("transforms", "accuracy", "vector")


def needs_file(*paths):
    """skipif mark for a test that opens ``paths`` of the reference tree."""
    missing = [p for p in paths if not os.path.isfile(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference tree absent: {', '.join(missing)}"
    )


requires_reference = needs_file(f"{_REF_DIR}/transforms.py")


def load_reference_modules():
    """Returns (transforms, accuracy, vector) reference modules.

    The modules sit in ``sys.modules`` while they execute (a relative
    import between them resolves there), but if any of them fails to
    load every ``reftio`` entry is removed again, so each call raises
    the real error instead of finding a half-loaded package.
    """
    keys = [f"reftio.{name}" for name in _NAMES]
    if all(key in sys.modules for key in keys):
        return tuple(sys.modules[key] for key in keys)
    pkg = types.ModuleType("reftio")
    pkg.__path__ = [_REF_DIR]
    sys.modules["reftio"] = pkg
    try:
        for name, key in zip(_NAMES, keys):
            spec = importlib.util.spec_from_file_location(key, f"{_REF_DIR}/{name}.py")
            mod = importlib.util.module_from_spec(spec)
            sys.modules[key] = mod
            spec.loader.exec_module(mod)
            setattr(pkg, name, mod)
    except BaseException:
        for key in ("reftio", *keys):
            sys.modules.pop(key, None)
        raise
    return tuple(sys.modules[key] for key in keys)
