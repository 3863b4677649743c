"""The benchmark imports package names inside its workload functions, so a
renamed or deleted name breaks it only when that workload runs.  Resolve
every such import statically, without a Spark session."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = "dbc_informed_socketcan_to_parquet_spark"
PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _package_imports() -> list[tuple[str, str, str]]:
    """``(file, module, name)`` for every ``from <package>… import name``."""
    found = []
    for path in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
                found += [(path.name, node.module, a.name) for a in node.names]
    return found


def test_perfbench_package_imports_resolve():
    imports = _package_imports()
    assert len(imports) > 10, "the scan found too few imports to be reading perfbench"
    missing = []
    for file, module, name in imports:
        if hasattr(importlib.import_module(module), name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{file}: from {module} import {name}")
    assert not missing, missing
