"""Every ``from sed_spark... import X`` in the repo resolves — no Spark.

Many imports sit inside functions (lazy imports on rarely run branches),
so a dangling one fails only when its branch runs. This test parses the
sources instead and checks each import statically: the module must exist
under ``sed_spark/`` and define ``X`` at module level (or have ``X`` as a
submodule).
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [
        *ROOT.joinpath("sed_spark").rglob("*.py"),
        *ROOT.joinpath("tools").rglob("*.py"),
        *ROOT.joinpath("examples").rglob("*.py"),
        *ROOT.joinpath("sedbench").rglob("*.py"),
        *ROOT.joinpath("tests").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ],
)


def _module_path(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module binds at import time (not inside functions/classes)."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.For)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        # if/try/with/for blocks at module level bind names too
        for field in ("body", "orelse", "finalbody", "handlers"):
            names |= _bound_names(getattr(node, field, None) or [])
    return names


@functools.cache
def _module_names(path: Path) -> frozenset[str]:
    return frozenset(_bound_names(ast.parse(path.read_text()).body))


def _defines(path: Path, name: str) -> bool:
    if name in _module_names(path):
        return True
    # a package's submodule is importable by name without being bound
    return path.name == "__init__.py" and _module_path(
        ".".join(path.parent.relative_to(ROOT).parts + (name,)),
    ) is not None


def _sed_imports(path: Path):
    tree = ast.parse(path.read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module \
                and node.module.split(".")[0] == "sed_spark":
            yield node.lineno, node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "sed_spark":
                    yield node.lineno, a.name, []


def test_sources_are_found():
    rel = {p.relative_to(ROOT).as_posix() for p in SOURCES}
    assert {"bench.py", "__spark_entry__.py", "sed_spark/processor.py",
            "tools/check_oracle.py"} <= rel


@pytest.mark.parametrize(
    "path", SOURCES, ids=lambda p: p.relative_to(ROOT).as_posix(),
)
def test_sed_spark_imports_resolve(path):
    dangling = []
    for lineno, module, names in _sed_imports(path):
        target = _module_path(module)
        if target is None:
            dangling.append(f"line {lineno}: no module {module}")
            continue
        dangling += [
            f"line {lineno}: {module} defines no {name}"
            for name in names
            if name != "*" and not _defines(target, name)
        ]
    assert not dangling, "\n".join(dangling)
