"""Every package definition has a caller outside ``tests/``.

The scan parses each package module and collects its top-level functions,
classes and module constants. A name counts as used when some ``.py`` file
outside ``tests/`` (the package, ``tools/``, ``perfbench/``, the root
scripts) reads it as a ``Name`` or an ``Attribute``, or when a module
outside the package imports it. A package ``__init__`` re-export, a
definition's references to itself, docstrings and comments do not count.
A definition that only tests call fails here: delete it, or move it into
``tests/``.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "log_anomaly_detector_spark"

ALLOWED = {
    # Catalyst reference formulations: the bit-exact tests in
    # tests/test_similarity.py pin the Arrow kernels against them.
    "_bucket_array",
    "_centroid_sims_q",
    "_cos",
    # written by name (a string) by tools/gen_induction_golden.py; the
    # operators tests read it as the sf0.001 induction oracle
    "INDUCTION_GOLDEN_SQL_SF0001",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _definitions() -> list[tuple[str, str]]:
    """(module, name) for every top-level definition in the package."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            module = str(path.relative_to(ROOT))
            out += [(module, n) for n in names if not n.startswith("__")]
    return out


def _references() -> set[str]:
    """Every name read outside ``tests/``, minus each definition's
    references to itself."""
    refs: set[str] = set()
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT).parts
        if "tests" in rel or rel[0].startswith("."):
            continue
        for stmt in ast.parse(path.read_text()).body:
            own = stmt.name if isinstance(stmt, _DEFS) else None
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias) and PKG not in path.parents:
                    # a package module's import counts through its uses; a
                    # bare re-export (``__init__``) is not a caller
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name != own:
                    refs.add(name)
    return refs


def test_every_package_definition_has_a_production_caller():
    refs = _references()
    dead = sorted(
        f"{module}: {name}"
        for module, name in _definitions()
        if name not in refs and name not in ALLOWED
    )
    assert not dead, "no caller outside tests/:\n  " + "\n  ".join(dead)


def test_allowlist_holds_only_uncalled_definitions():
    """An allowlisted name that gained a caller, or was deleted, leaves the
    allowlist."""
    defined = {name for _, name in _definitions()}
    refs = _references()
    assert sorted(n for n in ALLOWED if n not in defined or n in refs) == []
