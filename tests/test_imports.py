"""Every engine import in the package, the jobs, the tools, the benchmark
(`perfbench/*.py`) and `__spark_entry__.py` resolves, function-level
imports included: importing a module does not run those, so a deleted
module or name would otherwise only fail when its caller runs. Engine
imports are those of `numalogic_spark`, `jobs` and `perfbench`."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(
    [p for d in ("numalogic_spark", "jobs", "tools") for p in (ROOT / d).rglob("*.py")]
    + list((ROOT / "perfbench").glob("*.py"))
    + [ROOT / "__spark_entry__.py"]
)
ENGINE_PACKAGES = {"numalogic_spark", "jobs", "perfbench"}


def _engine_imports(path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in ENGINE_PACKAGES:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in ENGINE_PACKAGES:
                    yield node.lineno, alias.name, None


def test_engine_imports_resolve():
    unresolved = []
    for path in FILES:
        for lineno, module, name in _engine_imports(path):
            where = f"{path.relative_to(ROOT)}:{lineno}"
            try:
                mod = importlib.import_module(module)
            except ImportError as ex:
                unresolved.append(f"{where}: {module} ({ex})")
                continue
            if name is None or hasattr(mod, name):
                continue
            if hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}"):
                continue
            unresolved.append(f"{where}: {module}.{name}")
    assert not unresolved, "\n".join(unresolved)
