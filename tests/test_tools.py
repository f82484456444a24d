"""Import hygiene for ``tools/`` and the benchmark drivers (``bench.py``,
``perfbench/``): every ``from dedup_spark... import name`` in one of
those scripts — function-local imports included — or in a child script
it embeds as a string constant, must resolve against the current
package. A deleted or renamed operator then cannot leave a tool or
a benchmark that only fails when someone runs it."""

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# tools whose measurement runs in a fresh interpreter from a module-level
# script string (``subprocess.run([python, "-c", SCRIPT])``)
CHILD_SCRIPT_TOOLS = ("tools/scaling_bench.py",)


def _child_scripts(tree: ast.Module) -> list[ast.Module]:
    """Module-level string constants that import the package, parsed."""
    out = []
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
                and "dedup_spark" in node.value.value):
            out.append(ast.parse(node.value.value))
    return out


def _package_imports(tree: ast.Module) -> list[tuple[str, str | None]]:
    """(module, name) for every dedup_spark import; name None for a
    plain ``import dedup_spark.x``."""
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0] == "dedup_spark"):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names
                    if a.name.split(".")[0] == "dedup_spark"]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def _scripts(subdir: str) -> list[str]:
    files = os.listdir(os.path.join(ROOT, subdir))
    return sorted(f"{subdir}/{f}" for f in files if f.endswith(".py"))


SCRIPTS = [*_scripts("tools"), "bench.py", *_scripts("perfbench")]


@pytest.mark.parametrize("tool", SCRIPTS,
                         ids=lambda p: p.removeprefix("tools/"))
def test_tool_package_imports_resolve(tool):
    with open(os.path.join(ROOT, tool)) as f:
        tree = ast.parse(f.read(), filename=tool)
    scripts = _child_scripts(tree)
    if tool in CHILD_SCRIPT_TOOLS:
        assert scripts, f"{tool}: no child script found"
    missing = [
        f"{module}.{name}" if name else module
        for t in [tree, *scripts]
        for module, name in _package_imports(t)
        if not _resolves(module, name)
    ]
    assert not missing, f"{tool}: unresolved imports {missing}"
