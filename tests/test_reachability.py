"""Guard: every package module and every top-level function or class in
it is reachable from something the engine runs.

A pure-AST walk (no Spark, no imports executed). The roots are
``__spark_entry__.py``, the headline bench, the tools, the pipeline
benchmark and the experiment scripts whose numbers BASELINE.md cites
(all of their code), plus every public function in ``plans/``: the
plans are the engine's entry points, as ``run_medallion`` is.

Modules are reached through imports, as before. Within a reached module
its top-level code runs on import, so it is reached too; that covers the
query modules' ``QUERIES`` and ``ORACLE`` dicts. A top-level def is
reached when its name appears in reached code: as a ``Name``, an
``Attribute``, through an import alias, or as a string literal equal to
the name (``perfbench/spans.py`` wraps sinks and plans by string). Names
are resolved by name, not by scope, which over-approximates: the guard
can miss dead code, never flag live code. A def's references to itself
do not count, and the walk runs to a fixpoint, so a helper that only a
dead def calls is dead too.

What is left is code that only its own tests run; it should be wired
into a query, plan or tool, or deleted, not left to drift.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "spotify_etl_aws_spark"

# Unreached on purpose, one reason each. Only three kinds qualify: a
# reference implementation a test checks the production path against, a
# test-input generator for a reached lane, and the epoch-commit readers
# the ``commit_epoch`` tests verify through.
ALLOWLIST: dict[str, str] = {
    f"{PKG}.operators.bm25.bm25_score_py": "pure-Python Okapi scorer the Spark BM25 lane is checked against",
    f"{PKG}.operators.coreset._coverage_expr": "JVM expression form the Arrow coverage kernel is checked against",
    f"{PKG}.operators.hilbert.hilbert_xy2d": "scalar Hilbert index the JVM with_hilbert expression is checked against",
    f"{PKG}.operators.pq.reconstruct": "PQ decode behind the ADC == reconstruction-distance identity tests",
    f"{PKG}.operators.quality.check_accepted_values": "per-check plan the KeyContracts gate is checked against",
    f"{PKG}.operators.quality.check_not_null": "per-check plan the KeyContracts gate is checked against",
    f"{PKG}.operators.quality.check_references": "per-check plan the KeyContracts gate is checked against",
    f"{PKG}.operators.quality.check_unique": "per-check plan the KeyContracts gate is checked against",
    f"{PKG}.operators.unigram._word_ll": "best-segmentation score the Viterbi path is checked against",
    f"{PKG}.operators.gif.quantize_rgb": "builds palette-exact GIF inputs for the reached GIF decoder",
    f"{PKG}.operators.video.encode_avi_mjpeg": "builds AVI inputs for the reached AVI decoder (video_fp clips)",
    f"{PKG}.sources.sinks.committed_epochs": "commit_epoch's tests verify through it; the commit protocol owns it",
    f"{PKG}.sources.sinks.read_committed_epochs": "commit_epoch's tests verify through it; the commit protocol owns it",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path, repo: Path) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(tree: ast.Module, name: str, is_pkg: bool) -> set[str]:
    """Every module name an ``import``/``from`` anywhere in ``tree`` may
    load, including the parent packages a dotted import loads first."""
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(tree):
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


def _names(node: ast.AST, aliases: dict[str, set[str]]) -> set[str]:
    """Every name ``node`` may refer to. ``import x as y`` is recorded in
    ``aliases`` (y -> x) instead: the import alone uses nothing."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
        elif isinstance(n, ast.alias) and n.asname:
            aliases.setdefault(n.asname, set()).add(n.name.rpartition(".")[2])
    return out


def _roots(repo: Path) -> list[Path]:
    return [
        p
        for p in [
            repo / "__spark_entry__.py",
            repo / "bench.py",
            *sorted((repo / "tools").glob("*.py")),
            *sorted((repo / "perfbench").glob("*.py")),
            *sorted((repo / "experiments").glob("*.py")),
        ]
        if p.exists()
    ]


def unreached(repo: Path = REPO, pkg: str = PKG) -> set[str]:
    """Dotted names of the package modules and top-level defs that
    nothing reaches from the roots."""
    trees = {
        _module_name(p, repo): (p, ast.parse(p.read_text(), str(p)))
        for p in sorted((repo / pkg).rglob("*.py"))
    }
    roots = {_module_name(p, repo): ast.parse(p.read_text(), str(p)) for p in _roots(repo)}
    plans = {m for m in trees if m.startswith(f"{pkg}.plans.")}

    # modules, through imports; a plan module loads its parent packages
    seen: set[str] = set(plans) | {pkg, f"{pkg}.plans"}
    todo = [(t, m, False) for m, t in roots.items()]
    todo += [(trees[m][1], m, trees[m][0].name == "__init__.py") for m in plans]
    while todo:
        tree, name, is_pkg = todo.pop()
        for mod in _imports(tree, name, is_pkg):
            if mod in trees and mod not in seen:
                seen.add(mod)
                todo.append((trees[mod][1], mod, trees[mod][0].name == "__init__.py"))

    # defs, by name, to a fixpoint
    aliases: dict[str, set[str]] = {}
    refs: set[str] = set()
    for tree in roots.values():
        refs |= _names(tree, aliases)
        # a root's own imports are code it runs
        for n in ast.walk(tree):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                refs.update(a.name.rpartition(".")[2] for a in n.names)
    defs: dict[str, ast.AST] = {}
    for mod in seen:
        for stmt in trees[mod][1].body:
            if isinstance(stmt, _DEFS):
                defs[f"{mod}.{stmt.name}"] = stmt
                if mod in plans and not stmt.name.startswith("_"):
                    refs.add(stmt.name)
            else:
                refs |= _names(stmt, aliases)
    for node in defs.values():
        _names(node, aliases)  # every alias, reached or not

    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        todo_names = list(refs)
        while todo_names:
            for orig in aliases.get(todo_names.pop(), ()):
                if orig not in refs:
                    refs.add(orig)
                    todo_names.append(orig)
        for key, node in defs.items():
            if key not in reached and node.name in refs:
                reached.add(key)
                refs |= _names(node, {}) - {node.name}
                grew = True
    return (set(trees) - seen) | (set(defs) - reached)


def test_every_package_def_is_reached():
    found = unreached()
    assert found == set(ALLOWLIST), (
        "package code no query, plan, tool or benchmark reaches: "
        f"{sorted(found - set(ALLOWLIST))}; allowlisted but now reached: "
        f"{sorted(set(ALLOWLIST) - found)}"
    )


def test_walker_on_a_synthetic_package(tmp_path):
    files = {
        "bench.py": (
            "import getpass\n"
            "from pkg.queries import reg\n"
            "from pkg import ops\n"
            "getattr(ops, 'by_string')()\n"
        ),
        "pkg/__init__.py": "",
        "pkg/queries/__init__.py": "",
        "pkg/queries/reg.py": (
            "from ..ops import in_registry as q\n"
            "QUERIES = {'q': q}\n"
        ),
        "pkg/ops.py": (
            "def in_registry():\n    return used_helper()\n\n"
            "def used_helper():\n    return 1\n\n"
            "def by_string():\n    return 2\n\n"
            "def calls_itself(n):\n    return calls_itself(n - 1)\n\n"
            "def dead():\n    return only_dead_calls()\n\n"
            "def only_dead_calls():\n    return 3\n"
        ),
        "pkg/plans/__init__.py": "",
        "pkg/plans/job.py": (
            "def run():\n    return _step()\n\n"
            "def _step():\n    return 4\n\n"
            "def _unused():\n    return 5\n"
        ),
        "pkg/orphan.py": "def alone():\n    return 6\n",
    }
    for name, text in files.items():
        path = tmp_path / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    assert unreached(tmp_path, "pkg") == {
        "pkg.orphan",
        "pkg.ops.calls_itself",
        "pkg.ops.dead",
        "pkg.ops.only_dead_calls",
        "pkg.plans.job._unused",
    }
