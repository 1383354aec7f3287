"""Every library name that ``bench.py`` and ``scripts/*.py`` import
from the package still exists.

The scripts run outside the test suite, so a deleted or renamed
library function would otherwise only surface when someone next runs
the script. The imports are read with ``ast`` (function-level imports
included) and resolved against the package; no script is executed and
no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "canadiannewsdatapipeline_spark"
SOURCES = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def _package_imports(path: Path):
    """(line, module, name) for each package import in ``path``; name
    is None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PACKAGE:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_script_package_imports_resolve():
    missing = [
        f"{path.relative_to(ROOT)}:{line}: from {module} import {name}"
        for path in SOURCES
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)
