"""Every package module is reachable by import from the engine's entry
points, so no module survives only because its own tests import it.

KNOWN_ORPHANS lists modules that predate this guard and stay until they
are deleted together with their tests; it is empty now and may only
shrink.

Spark-free: walks the `ast` import graph (module-level and function-local
imports alike) without importing anything.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "claude_code_memory_spark"
ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = (f"{PKG}.api", f"{PKG}.__main__", f"{PKG}.service", f"{PKG}.queries")
KNOWN_ORPHANS: set[str] = set()


def package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def imported_by(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules the file at `path` imports (the package uses
    absolute imports only), with the packages whose `__init__` each
    import runs."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & mods.keys()


def reachable(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(imported_by(mods[mod], mods) - seen)
    return seen


def test_no_module_reachable_only_from_tests():
    mods = package_modules()
    orphans = mods.keys() - reachable(mods)
    assert not orphans - KNOWN_ORPHANS, (
        f"modules no entry point imports: {sorted(orphans - KNOWN_ORPHANS)}"
    )
    # a deleted or newly reachable known orphan must leave the list
    assert KNOWN_ORPHANS <= orphans, sorted(KNOWN_ORPHANS - orphans)
