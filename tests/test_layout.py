"""Package layout: every engine module is reached from an entry point that
runs it (contract entry, a job, a script, the benches), or is listed here
with the requirement it serves."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dsm2dtm_spark"

ENTRY_POINTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "jobs/*.py",
    "scripts/*.py",
    "perfbench/*.py",
)

# modules no entry point imports, kept because each maps to a requirement
UNREACHED_BY_DESIGN = {
    f"{PKG}.kernels.warp": "SURVEY R5/R21 reprojection",
    f"{PKG}.plans.validate": "the BASELINE per-row invariant as a job",
    f"{PKG}.functions.geo": "SURVEY R2/R3/R26/R27 geo functions",
    f"{PKG}.functions.sqlfuncs": "the SURVEY E14 SQL surface",
    f"{PKG}._daemon": "named by a config string in session.get_spark, not imported",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _imported_names(path: Path) -> set[str]:
    """Every module name an import statement anywhere in ``path`` (function
    bodies included) may load: ``from a import b`` names both ``a`` and
    ``a.b``, since ``b`` may be a submodule. The tree imports absolutely; a
    relative import would leave its target unreached and fail loudly."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _entry_files() -> list[Path]:
    return [p for pat in ENTRY_POINTS for p in ROOT.glob(pat) if not p.name.startswith("test_")]


def _reached(mods: dict[str, Path]) -> set[str]:
    todo = _entry_files()
    seen: set[str] = set()
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs the __init__ of a and a.b first
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append(mods[m])
    return seen


def test_every_package_module_is_reachable():
    mods = _package_modules()
    reached = _reached(mods)
    unreached = set(mods) - reached
    assert unreached - set(UNREACHED_BY_DESIGN) == set(), (
        f"modules no entry point reaches: {sorted(unreached - set(UNREACHED_BY_DESIGN))}"
    )
    # the allowlist stays exact: drop a module once something imports it
    assert set(UNREACHED_BY_DESIGN) - unreached == set(), (
        f"reached, so no longer needs a reason: {sorted(set(UNREACHED_BY_DESIGN) - unreached)}"
    )


def _top_level_bindings(path: Path) -> set[str]:
    """Names a module binds at its top level (defs, classes, assignments,
    imports), including under top-level ``if``/``try``/``with`` blocks."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            todo.extend(node.body + getattr(node, "orelse", []) + getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                todo.extend(h.body)
    return names


def test_entry_point_imports_resolve():
    """Every ``from dsm2dtm_spark... import name`` in an entry point
    (function bodies included) names a submodule or a top-level binding of
    that module. The tests do not run the jobs and scripts, so an import of
    a deleted name there would otherwise go unseen until a user runs it."""
    mods = _package_modules()
    broken = []
    for path in _entry_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.ImportFrom) and node.module and node.module.split(".")[0] == PKG):
                continue
            if node.module not in mods:
                broken.append(f"{path.relative_to(ROOT)}:{node.lineno}: no module {node.module}")
                continue
            bound = _top_level_bindings(mods[node.module])
            for a in node.names:
                if f"{node.module}.{a.name}" not in mods and a.name not in bound:
                    broken.append(f"{path.relative_to(ROOT)}:{node.lineno}: {node.module} has no {a.name}")
    assert broken == [], "\n".join(broken)
