"""Every script under scripts/ still loads against the engine: its
module body runs (``main`` is not called), and every name it imports
from ``sparketl`` — at module level or inside a function — exists.  A
script naming a deleted engine symbol fails here, not on its next run
by hand."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_loads(path):
    name = "script_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "sparketl"
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), f"{os.path.basename(path)}: {node.module}.{alias.name} is gone"
