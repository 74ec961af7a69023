"""Every script under tools/ imports cleanly: a tool left importing a
deleted module or a removed registry symbol fails here, not at its next
manual run. Each script guards ``main()`` under ``__main__``, so importing
one runs nothing."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

_TOOLS = sorted((pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


@pytest.mark.parametrize("path", _TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
