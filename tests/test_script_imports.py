"""Scripts outside the test suite still import only library names that exist.

bench.py, the driver contract and tools/*.py import private library
helpers; deleting one would otherwise break a script silently. Each
`from louvain_spark... import a, b` in them (at any nesting depth) is
resolved here without starting Spark.
"""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(
    [ROOT / "bench.py", ROOT / "__spark_entry__.py", *(ROOT / "tools").glob("*.py")]
)


def _library_imports(path: Path) -> list[tuple[int, str, list[str]]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == "louvain_spark"
        ):
            out.append((node.lineno, node.module, [a.name for a in node.names]))
    return out


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_script_library_imports_resolve(path):
    missing = []
    for lineno, module, names in _library_imports(path):
        mod = importlib.import_module(module)
        for name in names:
            if hasattr(mod, name):
                continue
            try:  # a submodule imported by name
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{path.name}:{lineno} {module}.{name}")
    assert not missing, missing
