"""The standalone loader of the reference modules: a failed load leaves
no half-registered package behind, and a complete tree loads once."""

from __future__ import annotations

import sys

import pytest

import ref_loader


@pytest.fixture
def no_reftio(monkeypatch):
    for key in [k for k in sys.modules if k == "reftio" or k.startswith("reftio.")]:
        monkeypatch.delitem(sys.modules, key)


def test_missing_tree_raises_on_every_call(no_reftio, monkeypatch, tmp_path):
    monkeypatch.setattr(ref_loader, "_REF_DIR", str(tmp_path / "absent"))
    for _ in range(2):
        with pytest.raises(FileNotFoundError):
            ref_loader.load_reference_modules()
        assert not [k for k in sys.modules if k.startswith("reftio")]


def test_complete_tree_loads_with_relative_import(no_reftio, monkeypatch, tmp_path):
    (tmp_path / "transforms.py").write_text("class Affine:\n    pass\n")
    (tmp_path / "accuracy.py").write_text("from .transforms import Affine\n")
    (tmp_path / "vector.py").write_text("from . import transforms\n")
    monkeypatch.setattr(ref_loader, "_REF_DIR", str(tmp_path))
    transforms, accuracy, vector = ref_loader.load_reference_modules()
    assert accuracy.Affine is transforms.Affine
    assert vector.transforms is transforms
    assert ref_loader.load_reference_modules() == (transforms, accuracy, vector)
