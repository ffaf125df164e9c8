"""Every package name that ``tools/*.py`` and ``bench.py`` import exists,
so deleting a library name cannot leave a tool broken. Imports only the
package modules the scripts name; no Spark session starts."""

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "aws_cli_data_pipeline_tools_spark"


def _package_imports(path: Path):
    """(line, module, name) for each package import in ``path``; ``name``
    is None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_tool_package_imports_resolve():
    scripts = sorted(REPO.glob("tools/*.py")) + [REPO / "bench.py"]
    checked, missing = 0, []
    for script in scripts:
        for line, module, name in _package_imports(script):
            checked += 1
            if not _resolves(module, name):
                where = f"{script.relative_to(REPO)}:{line}"
                missing.append(f"{where}: {module} {name or ''}".rstrip())
    assert checked > 0
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)
