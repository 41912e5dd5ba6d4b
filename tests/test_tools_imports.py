"""Every name the kept tools and bench.py import from the package
exists: a deletion in ``polar_spark`` that breaks a script nothing
else runs fails here. Imports inside functions count too. No Spark
session is started."""

import ast
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    [os.path.join("tools", f) for f in os.listdir(os.path.join(REPO, "tools"))
     if f.endswith(".py")] + ["bench.py"]
)


def _package_imports(path: str) -> list[tuple[str, list[str]]]:
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), path)
    return [
        (node.module, [a.name for a in node.names])
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "polar_spark"
    ]


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_package_imports_resolve(script):
    for module, names in _package_imports(script):
        mod = importlib.import_module(module)
        for name in names:
            if not hasattr(mod, name):  # a submodule not imported yet
                importlib.import_module(f"{module}.{name}")
