"""The benchmark under ``perfbench/`` reaches into the package by name:
the traced run wraps the functions listed in ``spans.WRAPPED`` and
``run.py`` imports program names directly. A deletion or rename that
would break the benchmark fails here, without a JVM."""

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_wrapped_owners_and_attributes_resolve():
    spec = importlib.util.spec_from_file_location("perfbench_spans", PERFBENCH / "spans.py")
    spans = importlib.util.module_from_spec(spec)
    # dataclasses resolve their module through sys.modules
    sys.modules[spec.name] = spans
    try:
        spec.loader.exec_module(spans)
    finally:
        del sys.modules[spec.name]
    assert spans.WRAPPED
    for layer, (owner_path, names) in spans.WRAPPED.items():
        mod_path, _, cls = owner_path.partition(":")
        owner = importlib.import_module(mod_path)
        if cls:
            owner = getattr(owner, cls)
        for name in names:
            assert callable(getattr(owner, name, None)), (layer, owner_path, name)


def test_run_imports_resolve():
    tree = ast.parse((PERFBENCH / "run.py").read_text())
    seen = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("wned_spark"):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name), (node.module, alias.name)
                seen += 1
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("wned_spark"):
                    importlib.import_module(alias.name)
                    seen += 1
    assert seen
