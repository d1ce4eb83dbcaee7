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


def _reached(mods: dict[str, Path]) -> set[str]:
    todo = [p for pat in ENTRY_POINTS for p in ROOT.glob(pat) if not p.name.startswith("test_")]
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
