"""The engine's layers import downward only: no module under
operators/, functions/, pipeline/, streaming/ or sources/ imports the
serving API, the query registry or the prepared-artifact store, which
are built on top of them. Imports are read with ``ast``, so lazy
imports inside functions count too."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "etl_sprint_2_5_spark"
LOWER = ("operators", "functions", "pipeline", "streaming", "sources")
UPPER = tuple(f"etl_sprint_2_5_spark.{m}" for m in ("api", "plans", "artifacts"))


def _imports(path: Path) -> set[str]:
    """Every module ``path`` imports, relative imports resolved."""
    package = ["etl_sprint_2_5_spark", *path.parent.relative_to(PKG).parts]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join([*base, *filter(None, [node.module])])
            found.add(mod)
            found |= {f"{mod}.{a.name}" for a in node.names}
    return found


@pytest.mark.parametrize("layer", LOWER)
def test_lower_layers_do_not_import_upper_ones(layer):
    modules = sorted((PKG / layer).rglob("*.py"))
    assert modules
    bad = {
        str(m.relative_to(PKG)): sorted(
            i for i in _imports(m)
            if any(i == u or i.startswith(u + ".") for u in UPPER)
        )
        for m in modules
    }
    assert not any(bad.values()), {m: i for m, i in bad.items() if i}
