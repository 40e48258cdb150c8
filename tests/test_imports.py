"""Every import of a package name resolves.

Many imports in the package are function-local (the operators import
their pipeline pieces at query time), so a deleted or renamed public
name would otherwise fail only when that query runs. This walks the
syntax tree of every source file — function bodies included — and
checks each ``from ontonotes_5_parsing_spark… import name`` (relative
imports inside the package too) against the target module.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ontonotes_5_parsing_spark"
SOURCES = [
    *sorted((ROOT / PACKAGE).rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    *sorted((ROOT / "kgbench").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _package_of(path: Path) -> str | None:
    """Dotted package that relative imports in `path` resolve against."""
    parts = path.relative_to(ROOT).parts
    return ".".join(parts[:-1]) if parts[0] == PACKAGE else None


def package_imports(source: str, package: str | None):
    """(line, module, names) for every import of a package module in
    `source`; `names` is empty for a plain ``import module``."""
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == PACKAGE:
                yield node.lineno, module, [a.name for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, []


def unresolved(imports) -> list[str]:
    problems = []
    for line, module, names in imports:
        if importlib.util.find_spec(module) is None:
            problems.append(f"line {line}: no module {module}")
            continue
        target = importlib.import_module(module)
        for name in names:
            if hasattr(target, name) or (
                hasattr(target, "__path__") and importlib.util.find_spec(f"{module}.{name}")
            ):
                continue
            problems.append(f"line {line}: {module} has no {name}")
    return problems


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_imports_resolve(path):
    assert unresolved(package_imports(path.read_text(), _package_of(path))) == []


def test_walk_sees_function_local_and_relative_imports():
    """The walk finds imports inside function bodies, resolves relative
    imports against the file's package, and reports a missing name."""
    path = ROOT / PACKAGE / "operators" / "kg.py"
    found = {
        (module, tuple(names))
        for _, module, names in package_imports(path.read_text(), _package_of(path))
    }
    assert (f"{PACKAGE}.pipeline.stages", ("annotations_stage",)) in found
    assert (f"{PACKAGE}.pipeline", ("run_pipeline",)) in found

    source = "def f():\n    from .stages import extract_stage\n"
    assert unresolved(package_imports(source, f"{PACKAGE}.pipeline")) == [
        f"line 2: {PACKAGE}.pipeline.stages has no extract_stage"
    ]
