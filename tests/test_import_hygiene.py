"""Every module-level import in the package is used.

A static check (``ast`` only — no Spark, no package import): for each
module under ``legate_dataframe_spark/`` other than the ``__init__``
re-export modules, every name bound by a top-level ``import`` or
``from … import`` must be read somewhere else in the module, or be
listed in ``__all__``.  ``from __future__`` imports are exempt.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "legate_dataframe_spark"


def _unused_imports(tree: ast.Module) -> list[str]:
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                bound[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        # names in __all__ are re-exports, so they count as used
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))):
            used.update(e.value for e in node.value.elts
                        if isinstance(e, ast.Constant))
    return [f"line {ln}: {name}" for name, ln in sorted(bound.items())
            if name not in used]


def test_no_unused_module_level_imports():
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        unused = _unused_imports(ast.parse(path.read_text(), str(path)))
        if unused:
            offenders[str(path.relative_to(PKG))] = unused
    assert not offenders, offenders
