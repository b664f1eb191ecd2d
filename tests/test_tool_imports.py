"""The tools and ``bench.py`` import engine names that only run when the
tool runs. A rename or deletion in the package would otherwise break a
tool unnoticed: this test parses each script with ``ast`` and checks
that every ``from garden_net_backend_spark... import name`` (including
imports inside functions) resolves. It imports modules only; it starts
no Spark session."""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "garden_net_backend_spark"
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _engine_imports(path: pathlib.Path):
    """(module, name, line) of every absolute ``from PKG... import``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module is not None
            and (node.module == PKG or node.module.startswith(PKG + "."))
        ):
            for alias in node.names:
                yield node.module, alias.name, node.lineno


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tool_engine_imports_exist():
    checked = 0
    missing = []
    for path in SCRIPTS:
        for module, name, line in _engine_imports(path):
            checked += 1
            if not _resolves(module, name):
                missing.append(f"{path.name}:{line}: {module}.{name}")
    assert checked > 0
    assert not missing, "tools import engine names that do not exist:\n" + "\n".join(
        missing
    )
