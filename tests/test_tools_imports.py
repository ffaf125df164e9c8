"""Every package name that ``tools/*.py``, ``bench.py`` and
``perfbench/*.py`` import exists, and every keyword argument those scripts
pass to an imported package callable is a parameter of it, so deleting a
library name or parameter cannot leave a script broken until someone runs
it. The same holds for the repo-root script modules the scripts import
(``bench``, ``bench_scale``): every name imported from them and every
``bench.<attr>`` read must be defined there. Imports only the package
modules the scripts name; no Spark session starts."""

import ast
import importlib
import inspect
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "aws_cli_data_pipeline_tools_spark"
#: Script modules that other scripts import by bare name.
SCRIPT_MODULES = {
    "bench": REPO / "bench.py",
    "bench_scale": REPO / "tools" / "bench_scale.py",
}


def _scripts():
    return (
        sorted(REPO.glob("tools/*.py"))
        + [REPO / "bench.py"]
        + sorted(REPO.glob("perfbench/*.py"))
    )


def _in_package(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _package_imports(path: Path):
    """(line, module, name, bound) for each package import in ``path``:
    ``name`` is None for a plain ``import module``, ``bound`` is the
    local name the import binds (None for an un-aliased dotted
    ``import pkg.mod``, which binds only ``pkg``)."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if _in_package(node.module):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name, (
                        alias.asname or alias.name
                    )
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _in_package(alias.name):
                    bound = alias.asname or (
                        alias.name if "." not in alias.name else None
                    )
                    yield node.lineno, alias.name, None, bound


def _resolve(module: str, name: str | None):
    """The imported object, or None when it does not exist."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return None
    if name is None:
        return mod
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # ``from pkg import submodule``
        return importlib.import_module(f"{module}.{name}")
    except ImportError:
        return None


def _dotted(func: ast.expr) -> list[str] | None:
    """``a.b.c`` → ["a", "b", "c"]; None for any other callee shape."""
    parts = []
    while isinstance(func, ast.Attribute):
        parts.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name):
        return None
    parts.append(func.id)
    return parts[::-1]


def test_tool_package_imports_resolve():
    checked, missing = 0, []
    for script in _scripts():
        for line, module, name, _ in _package_imports(script):
            checked += 1
            if _resolve(module, name) is None:
                where = f"{script.relative_to(REPO)}:{line}"
                missing.append(f"{where}: {module} {name or ''}".rstrip())
    assert checked > 0
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)


def test_tool_keyword_arguments_exist():
    """Each ``kw=`` a script passes to a package callable it imported by
    name (``f(kw=…)``, ``mod.f(kw=…)``) is in the callee's signature.
    A name imported in several scopes of one script is resolved per
    script; if it binds different objects there, it is skipped rather
    than guessed."""
    checked, stale = 0, []
    for script in _scripts():
        bound: dict[str, dict[int, object]] = {}
        for _, module, name, local in _package_imports(script):
            obj = _resolve(module, name)
            if local is not None and obj is not None:
                bound.setdefault(local, {})[id(obj)] = obj
        tree = ast.parse(script.read_text(), str(script))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            parts = _dotted(node.func)
            objs = bound.get(parts[0], {}) if parts else {}
            if len(objs) != 1:
                continue
            (target,) = objs.values()
            for attr in parts[1:]:
                target = getattr(target, attr, None)
            if not callable(target):
                continue
            try:
                params = inspect.signature(target).parameters
            except (TypeError, ValueError):
                continue
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            for kw in node.keywords:
                if kw.arg is None:  # ``**kwargs`` at the call site
                    continue
                checked += 1
                if kw.arg not in params:
                    where = f"{script.relative_to(REPO)}:{node.lineno}"
                    stale.append(f"{where}: {'.'.join(parts)}({kw.arg}=)")
    assert checked > 0
    assert not stale, "keyword arguments the callee lacks:\n" + "\n".join(stale)


def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at top level: defs, classes, assignments
    and imports. Read from the source, so the module is not executed."""
    names = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                names.add((alias.asname or alias.name).split(".")[0])
    return names


def test_script_module_names_exist():
    """``from bench import x`` / ``from bench_scale import x`` and
    ``bench.x`` (after ``import bench``) in any script name something the
    module defines."""
    defined = {m: _top_level_names(p) for m, p in SCRIPT_MODULES.items()}
    checked, missing = 0, []
    for script in _scripts():
        tree = ast.parse(script.read_text(), str(script))
        local = {}  # local name -> script module, from ``import bench``
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module in defined:
                for alias in node.names:
                    checked += 1
                    if alias.name not in defined[node.module]:
                        missing.append(
                            f"{script.relative_to(REPO)}:{node.lineno}: "
                            f"from {node.module} import {alias.name}"
                        )
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name in defined:
                        local[alias.asname or alias.name] = alias.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in local
            ):
                module = local[node.value.id]
                checked += 1
                if node.attr not in defined[module]:
                    missing.append(
                        f"{script.relative_to(REPO)}:{node.lineno}: "
                        f"{module}.{node.attr}"
                    )
    assert checked > 0
    assert not missing, "names the script module lacks:\n" + "\n".join(missing)
