"""Every engine import in the package, the jobs, the tools, the benchmark
(`perfbench/*.py`) and `__spark_entry__.py` resolves, function-level
imports included: importing a module does not run those, so a deleted
module or name would otherwise only fail when its caller runs. Engine
imports are those of `numalogic_spark`, `jobs` and `perfbench`.

COVERAGE.md names only package modules and driver queries that exist."""

import ast
import fnmatch
import importlib
import importlib.util
import re
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


def test_coverage_names_exist():
    """Every `<subpackage>/<module>.py` path in COVERAGE.md is a package
    module, and every name in a `Q(...)` gate matches a `queries()` key
    (`*` is a glob)."""
    from __spark_entry__ import queries

    text = (ROOT / "COVERAGE.md").read_text()
    missing = [
        f"numalogic_spark/{d}/{m}.py"
        for d, m in re.findall(r"\b(operators|functions|streaming|plans|sources)/(\w+)\.py", text)
        if not (ROOT / "numalogic_spark" / d / f"{m}.py").exists()
    ]
    keys = list(queries())
    for gate in re.findall(r"\bQ\(([^)]*)\)", text):
        for name in re.findall(r"`([^`]+)`", gate):
            if not fnmatch.filter(keys, name):
                missing.append(f"Q(`{name}`)")
    assert not missing, "\n".join(sorted(set(missing)))
