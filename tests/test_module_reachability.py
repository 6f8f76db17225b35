"""Every package module has a caller outside the tests.

A module that no query, job or benchmark imports is dead weight: it is
deleted rather than kept green by its own tests.  This walks the imports of
all non-test code with ``ast`` and asserts each ``ocrd_odem_spark`` module
is imported by some file other than itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "ocrd_odem_spark"

# Modules only tests import, kept on purpose: geometry and salting are
# reference semantics; pngdec and tiffdec are standalone reference decoders
# (jpegdec needs no entry: tiffdec imports it for JPEG-in-TIFF); oai and
# tables await being wired in or deleted.
_CODEC = (
    "standalone pure-numpy codec with exact round-trip tests (TIFF "
    "cross-checked against libtiff); an image workload such as JPEG-DC "
    "block features would need a benchmark key and a consumer first"
)
KEEP = {
    "ocrd_odem_spark.functions.pngdec": _CODEC,
    "ocrd_odem_spark.functions.tiffdec": _CODEC,
    "ocrd_odem_spark.operators.geometry": (
        "exact T1 coordinate arithmetic of SURVEY, checked against real ALTO"
    ),
    "ocrd_odem_spark.operators.salting": (
        "the scale contract for skewed keys; to be wired into q43/q44/q47"
    ),
    "ocrd_odem_spark.sources.oai": (
        "SURVEY S2 OAI-PMH envelope parse, checked against the reference's "
        "own GetRecord fixture; the HTTP harvest that would call it is out "
        "of scope"
    ),
    "ocrd_odem_spark.sources.tables": (
        "bucketed doc_id layout whose joins plan without an exchange; no "
        "query persists annotation tables yet"
    ),
}


def _sources() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py"))
    files += sorted((ROOT / "jobs").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += [ROOT / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    return files


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports.  ``from pkg import mod`` yields both
    ``pkg`` and ``pkg.mod``; relative imports resolve against the file's
    package.  A string literal equal to a module's dotted name counts too:
    Spark loads the worker daemon from ``spark.python.daemon.module``."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _importers() -> dict[str, set[str]]:
    """Package module (``__init__`` aside) -> the other files importing it."""
    sources = _sources()
    importers: dict[str, set[str]] = {
        _module_name(p): set() for p in sources
        if p.is_relative_to(ROOT / PKG) and p.name != "__init__.py"
    }
    for path in sources:
        me = _module_name(path)
        for name in _imported_names(path):
            if name in importers and name != me:
                importers[name].add(me)
    return importers


def test_every_module_has_a_non_test_importer():
    importers = _importers()
    orphans = sorted(m for m, by in importers.items() if not by and m not in KEEP)
    assert not orphans, f"imported only by tests (delete, or list in KEEP): {orphans}"


def test_keep_entries_exist_and_are_still_unimported():
    importers = _importers()
    for mod in KEEP:
        assert mod in importers, f"KEEP names a missing module: {mod}"
        assert not importers[mod], (
            f"{mod} is imported by {sorted(importers[mod])}; drop it from KEEP"
        )
