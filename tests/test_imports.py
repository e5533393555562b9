"""Every engine import in the package, the jobs, the tools, the benchmark
(`perfbench/*.py`) and `__spark_entry__.py` resolves, function-level
imports included: importing a module does not run those, so a deleted
module or name would otherwise only fail when its caller runs. Engine
imports are those of `numalogic_spark`, `jobs` and `perfbench`.

Also: the package modules that no core job and no benchmark file imports
are an explicit list; COVERAGE.md, SURVEY.md and README.md name only
package modules, tests and driver queries that exist; and
`tools/selfcheck.py` checks the driver contract of its own checkout."""

import ast
import fnmatch
import importlib
import importlib.util
import os
import re
import subprocess
import sys
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
    """Every `<subpackage>/<module>.py` path in COVERAGE.md, SURVEY.md and
    README.md is a package module, every `T(test_...)` gate in COVERAGE.md
    names a test file, and every name in a `Q(...)` gate matches a
    `queries()` key (`*` is a glob)."""
    from __spark_entry__ import queries

    missing = [
        f"{doc}: numalogic_spark/{d}/{m}.py"
        for doc in ("COVERAGE.md", "SURVEY.md", "README.md")
        for d, m in re.findall(
            r"\b(operators|functions|streaming|plans|sources)/(\w+)\.py", (ROOT / doc).read_text()
        )
        if not (ROOT / "numalogic_spark" / d / f"{m}.py").exists()
    ]
    text = (ROOT / "COVERAGE.md").read_text()
    for gate in re.findall(r"\bT\(([^)]*)\)", text):
        for name in re.findall(r"\btest_\w+", gate):
            if not (ROOT / "tests" / f"{name}.py").exists():
                missing.append(f"T({name})")
    keys = list(queries())
    for gate in re.findall(r"\bQ\(([^)]*)\)", text):
        for name in re.findall(r"`([^`]+)`", gate):
            if not fnmatch.filter(keys, name):
                missing.append(f"Q(`{name}`)")
    assert not missing, "\n".join(sorted(set(missing)))


def _top_level_names(path):
    names = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
                names.update(n.id for n in ast.walk(target) if isinstance(n, ast.Name))
    return names


def test_doc_references_exist():
    """In COVERAGE.md, SURVEY.md and README.md every `jobs/<name>.py` path
    exists, and inside each backtick span every `<stem>.<name>` whose stem
    is a package module's file name (`<stem>.py` aside; `*` is a glob)
    names a top-level def, class or assignment of that module."""
    defined = {}
    for p in (ROOT / "numalogic_spark").rglob("*.py"):
        if p.name != "__init__.py":
            defined.setdefault(p.stem, set()).update(_top_level_names(p))
    missing = []
    for doc in ("COVERAGE.md", "SURVEY.md", "README.md"):
        text = (ROOT / doc).read_text()
        missing += [
            f"{doc}: jobs/{m}.py"
            for m in re.findall(r"\bjobs/(\w+)\.py", text)
            if not (ROOT / "jobs" / f"{m}.py").exists()
        ]
        for span in re.findall(r"`([^`]+)`", text):
            for stem, name in re.findall(r"\b(\w+)\.([\w*]+)", span):
                if stem in defined and name != "py" and not fnmatch.filter(defined[stem], name):
                    missing.append(f"{doc}: {stem}.{name}")
    assert not missing, "\n".join(sorted(set(missing)))


# Package modules that neither a core job nor the benchmark imports. A cut
# that orphans a module, or deletes one of these, edits this list.
UNREACHED = [
    "blocks",
    "config",
    "functions.robust",
    "operators.backtest",
    "operators.forecast",
    "operators.joins",
    "operators.promql",
    "operators.reshape",
    "operators.sketches",
    "plans.router",
    "plans.skew",
    "sources.connectors",
    "streaming.ae_stream",
    "streaming.trainer_gate",
    "synthetic",
]


def test_unreached_modules():
    """Walk engine imports (function-level ones included) from the core
    jobs and every `perfbench/*.py`; the package modules left over are
    exactly UNREACHED."""
    jobs = ("rollup", "refresh", "retention", "stream", "score")
    todo = [ROOT / "jobs" / f"{j}_job.py" for j in jobs] + sorted((ROOT / "perfbench").glob("*.py"))
    seen = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for _, module, name in _engine_imports(path):
            for target in (module, f"{module}.{name}") if name else (module,):
                file = ROOT.joinpath(*target.split(".")).with_suffix(".py")
                if file.exists():
                    todo.append(file)
    package = ROOT / "numalogic_spark"
    unreached = sorted(
        ".".join(p.relative_to(package).with_suffix("").parts)
        for p in package.rglob("*.py")
        if p.name != "__init__.py" and p not in seen
    )
    assert unreached == UNREACHED


def test_selfcheck_checks_its_own_checkout(tmp_path):
    """`tools/selfcheck.py` imports the `__spark_entry__.py` next to it,
    not one at a fixed path: a copy of the script beside a stub entry
    module loads the stub."""
    (tmp_path / "tools").mkdir()
    script = tmp_path / "tools" / "selfcheck.py"
    script.write_text((ROOT / "tools" / "selfcheck.py").read_text())
    (tmp_path / "__spark_entry__.py").write_text("")
    load = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('selfcheck', sys.argv[1])\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "print(mod.E.__file__)\n"
    )
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", load, str(script)],
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert Path(out.stdout.strip()).resolve() == (tmp_path / "__spark_entry__.py").resolve()
