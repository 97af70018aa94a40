"""Layering: the engine layers never import the query registry.

``queries/`` holds registered queries (a Spark call plus its oracle SQL)
on top of the engine. ``operators/``, ``streaming/``, ``sources/``,
``plans/`` and ``session.py`` sit below it, so an import of
``dwh_etl_framework_spark.queries`` from any of them inverts the layering.
The scan reads every import statement, including ones inside functions.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import dwh_etl_framework_spark

PKG = Path(dwh_etl_framework_spark.__file__).parent
QUERIES = "dwh_etl_framework_spark.queries"
LOWER_LAYERS = ["operators", "streaming", "sources", "plans", "session.py"]


def _module_name(path: Path) -> str:
    parts = path.relative_to(PKG.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: Path) -> list[tuple[int, str]]:
    """(line, absolute module name) of every import in ``path``; for
    ``from X import a`` both ``X`` and ``X.a`` are listed, since ``a`` may
    be a submodule."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.append((node.lineno, base))
            out += [(node.lineno, f"{base}.{a.name}") for a in node.names]
    return out


def _lower_layer_files() -> list[Path]:
    files = []
    for entry in LOWER_LAYERS:
        p = PKG / entry
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return files


def test_scan_sees_every_import_form(tmp_path, monkeypatch):
    """The scan itself catches absolute, from- and relative imports."""
    pkg = tmp_path / "dwh_etl_framework_spark"
    (pkg / "streaming").mkdir(parents=True)
    bad = pkg / "streaming" / "bad.py"
    bad.write_text(
        "import dwh_etl_framework_spark.queries.wave16\n"
        "from dwh_etl_framework_spark import queries\n"
        "def f():\n"
        "    from ..queries.wave16 import PHRASES\n"
    )
    monkeypatch.setattr(sys.modules[__name__], "PKG", pkg)
    hits = [
        line
        for line, mod in _imported_modules(bad)
        if mod == QUERIES or mod.startswith(QUERIES + ".")
    ]
    assert sorted(set(hits)) == [1, 2, 4]


def test_engine_layers_do_not_import_queries():
    files = _lower_layer_files()
    assert len(files) > 40  # the scan really covers the layers
    bad = [
        f"{path.relative_to(PKG)}:{line}: {mod}"
        for path in files
        for line, mod in _imported_modules(path)
        if mod == QUERIES or mod.startswith(QUERIES + ".")
    ]
    assert bad == []
