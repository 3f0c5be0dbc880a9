"""Guard: every package module is reachable from something the engine runs.

A pure-AST import walk (no Spark, no imports executed). The roots are
the declared query inventory, the plans, ``__spark_entry__.py``, the
headline bench, the tools and the pipeline benchmark. A module that none
of them imports, at any depth, is code that only its own tests run; it
should be wired into a query or deleted, not left to drift.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "spotify_etl_aws_spark"

# Unreached on purpose. Both stand in for the reference's raw stage (the
# Spotify Web API pull of raw.py), which cannot run offline; tests drive
# them through a fake transport.
EXEMPT = {
    # Client-credentials token flow for the Spotify API.
    f"{PKG}.sources.oauth",
    # Paged REST pull with retry, over an injectable transport.
    f"{PKG}.sources.rest",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path, name: str) -> set[str]:
    """Every module name an ``import``/``from`` anywhere in ``path`` may
    load, including the parent packages a dotted import loads first."""
    is_pkg = path.name == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            found.add(target)
            # ``from pkg import mod`` loads pkg.mod when mod is a module.
            found.update(f"{target}.{a.name}" for a in node.names)
    closed = set()
    for mod in found:
        parts = mod.split(".")
        closed.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return closed


def _unreached() -> set[str]:
    package = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    roots = [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / PKG / "queries").glob("*.py")),
        *sorted((REPO / PKG / "plans").glob("*.py")),
    ]
    seen: set[str] = set()
    todo = [(p, _module_name(p)) for p in roots]
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name):
            if mod in package and mod not in seen:
                seen.add(mod)
                todo.append((package[mod], mod))
    roots_in_pkg = {_module_name(p) for p in roots if PKG in p.parts}
    return set(package) - seen - roots_in_pkg


def test_every_package_module_is_reached():
    unreached = _unreached()
    assert unreached == EXEMPT, (
        "modules no query, plan, tool or benchmark imports: "
        f"{sorted(unreached - EXEMPT)}; exemptions now reached: "
        f"{sorted(EXEMPT - unreached)}"
    )
