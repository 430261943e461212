"""Every module of the package is reached by an import from one of its
entry points: the CLI, the query registry and the benchmark. A module
nothing imports is dead code unless the allowlist below says why."""

from __future__ import annotations

import ast
import pathlib

import big_ann_spark

PACKAGE = "big_ann_spark"
PKG_DIR = pathlib.Path(big_ann_spark.__file__).resolve().parent
REPO = PKG_DIR.parent

# Modules no import reaches, each with the reason it stays.
ALLOWED_UNREACHED = {
    "pyworker": "Spark starts it by name: session.py sets "
    "spark.python.daemon.module to big_ann_spark.pyworker",
    "plans": "plan-inspection helpers (plans.inspect) the plan tests use",
    "sources.heatmap": "renders the reference's KS/VIF heatmaps from stats output",
}


def _module_names() -> set[str]:
    """Dotted names relative to the package ("" is the package itself)."""
    names = set()
    for p in PKG_DIR.rglob("*.py"):
        parts = list(p.relative_to(PKG_DIR).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        names.add(".".join(parts))
    return names


def _with_parents(name: str) -> set[str]:
    """Importing a submodule runs every enclosing package's __init__."""
    parts = name.split(".") if name else []
    return {".".join(parts[:i]) for i in range(len(parts) + 1)}


def _imported(tree: ast.AST, modules: set[str]) -> set[str]:
    """Package modules a tree imports, function-local imports included."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            if t == PACKAGE or t.startswith(PACKAGE + "."):
                rel = t[len(PACKAGE) + 1 :]
                if rel in modules:
                    out |= _with_parents(rel)
    return out


def _path(name: str) -> pathlib.Path:
    p = PKG_DIR.joinpath(*name.split(".")) if name else PKG_DIR
    return p / "__init__.py" if p.is_dir() else p.with_suffix(".py")


def _roots(modules: set[str]) -> set[str]:
    """The CLI (console script and ``python -m``), the modules
    ``queries.load_all`` imports and the package modules perfbench imports."""
    roots = {"cli", "__main__"}
    queries = ast.parse(_path("queries").read_text())
    load_all = next(
        n for n in queries.body if isinstance(n, ast.FunctionDef) and n.name == "load_all"
    )
    roots |= _imported(load_all, modules)
    for p in sorted((REPO / "perfbench").rglob("*.py")):
        roots |= _imported(ast.parse(p.read_text()), modules)
    return roots


def _unreached() -> set[str]:
    modules = _module_names()
    seen: set[str] = set()
    todo = ["", *_roots(modules)]  # the package __init__ runs first
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imported(ast.parse(_path(mod).read_text()), modules) - seen)
    return modules - seen


def _covers(entry: str, mod: str) -> bool:
    return mod == entry or mod.startswith(entry + ".")


def test_every_module_is_reached_from_an_entry_point():
    """A module outside the allowlist that no entry point reaches fails
    here, so a module a deletion leaves without callers is seen."""
    unreached = _unreached()
    assert {m for m in unreached if not any(_covers(a, m) for a in ALLOWED_UNREACHED)} == set()
    # every allowlist entry still names an unreached module
    assert {a for a in ALLOWED_UNREACHED if not any(_covers(a, m) for m in unreached)} == set()
    assert "big_ann_spark.pyworker" in _path("session").read_text()
