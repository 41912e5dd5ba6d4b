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


def _tracer_hooks() -> list[tuple[str, str, str]]:
    """(module, class, attr) of every ``(module.Class, "attr", …)``
    owner that ``perfbench/run.py`` hands to a tracer's ``wrap``: the
    tuples a loop over ``wrap`` iterates, and direct ``wrap`` calls.
    Owners known only at run time (the REST handler class) are left
    out."""
    with open(os.path.join(REPO, "perfbench", "run.py")) as f:
        tree = ast.parse(f.read(), "perfbench/run.py")
    mods = {
        a.asname or a.name: f"{node.module}.{a.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and node.module.split(".")[0] == "polar_spark"
        for a in node.names
    }

    def is_wrap(node) -> bool:
        return (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "wrap"
        )

    args = []
    for node in ast.walk(tree):
        if isinstance(node, ast.For) and any(
            is_wrap(n) for stmt in node.body for n in ast.walk(stmt)
        ) and isinstance(node.iter, (ast.Tuple, ast.List)):
            args += [e.elts for e in node.iter.elts if isinstance(e, ast.Tuple)]
        elif is_wrap(node):
            args.append(node.args)
    return [
        (mods[owner.value.id], owner.attr, attr.value)
        for owner, attr, *_ in args
        if isinstance(owner, ast.Attribute) and isinstance(owner.value, ast.Name)
        and owner.value.id in mods
        and isinstance(attr, ast.Constant) and isinstance(attr.value, str)
    ]


def test_benchmark_tracer_hooks_are_own_attributes():
    """Every attribute the benchmark's tracer wraps is defined on its
    owner class itself: ``spans.Tracer.wrap`` reads
    ``owner.__dict__[attr]``, so a method moved into a base class would
    make every traced run raise ``KeyError``."""
    hooks = _tracer_hooks()
    assert (
        "polar_spark.streaming.dedup", "StreamingSemDedupLSH", "apply_batch"
    ) in hooks
    missing = [
        f"{module}.{cls}.{attr}"
        for module, cls, attr in hooks
        if attr not in vars(getattr(importlib.import_module(module), cls))
    ]
    assert missing == []
