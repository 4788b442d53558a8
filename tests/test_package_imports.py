"""Every top-level import of a package module is used.

No pyflakes or ruff is installed, so this AST scan stands in for their
unused-import check. Package `__init__` modules are skipped: they
import to re-export.
"""
from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "jsonld_js_spark"


def _unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    imported = {}
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)) and \
                getattr(node, "module", None) != "__future__":
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                imported[name] = alias.name
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    exported = {elt.value for node in tree.body
                if isinstance(node, ast.Assign) and
                any(getattr(t, "id", None) == "__all__" for t in node.targets)
                for elt in node.value.elts}
    return sorted(imported[name] for name in imported
                  if name not in used and name not in exported)


def test_package_modules_use_every_import():
    unused = {str(p.relative_to(PKG)): names
              for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"
              for names in [_unused_imports(p.read_text())] if names}
    assert unused == {}
