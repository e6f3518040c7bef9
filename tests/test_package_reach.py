"""Every package module is imported by some product code: another package
module, a tool, a perfbench file, ``bench.py`` or ``__spark_entry__.py``.
A module that only tests import is dead weight in the package."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "fund_data_etl_pipeline_spark"
# imports jpeg_codec, so it goes with the TIFF+JPEG deletion, not before it
PENDING = {f"{PKG}.operators.tiff_codec"}


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Dotted names the file imports, relative imports resolved, with
    every parent package of each name (importing a.b.c imports a.b)."""
    name, out = _module(path), set()
    here = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here.split(".")
                pkg = pkg[: len(pkg) - node.level + 1] + ([base] if base else [])
                base = ".".join(pkg)
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out


def test_every_package_module_has_a_product_importer():
    pkg_files = sorted((ROOT / PKG).rglob("*.py"))
    product = pkg_files + sorted((ROOT / "tools").rglob("*.py"))
    product += sorted((ROOT / "perfbench").rglob("*.py"))
    product += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    imported_by = {p: _imports(p) - {_module(p)} for p in product}
    unreached = [
        _module(f)
        for f in pkg_files
        if _module(f) not in PENDING
        and not any(_module(f) in names for names in imported_by.values())
    ]
    assert not unreached, f"package modules only tests import: {unreached}"
