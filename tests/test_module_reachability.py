"""Every package module, and every top-level package function, has a
caller outside the tests.

A module that no query, job or benchmark imports is dead weight: it is
deleted rather than kept green by its own tests.  This walks the imports of
all non-test code with ``ast`` and asserts each ``ocrd_odem_spark`` module
is imported by some file other than itself.  The same holds one level down:
each top-level ``def`` in ``ocrd_odem_spark/**/*.py`` must be referenced by
non-test code (as a name, an attribute or an imported name), so a second
form of an operator, or a stage that only its own test runs, cannot linger.
``oracle.py`` (the reference the tests compare against) and the modules in
``KEEP`` are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "ocrd_odem_spark"

# Modules only tests import, kept on purpose: geometry and salting are
# reference semantics; pngdec and tiffdec are standalone reference decoders
# (jpegdec needs no entry: tiffdec imports it for JPEG-in-TIFF); schema is
# the input contract callers build DataFrames with.
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
    "ocrd_odem_spark.schema": (
        "the nested (doc_id, spans) and meta input schemas callers build "
        "DataFrames with; the engine reads whatever its parquet carries"
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


# Top-level functions that no non-test code references, kept on purpose.
_DECODER = "entry point of a standalone codec module kept in KEEP above"
KEEP_FUNCTIONS = {
    "ocrd_odem_spark.functions.jpegdec.decode_jpeg_gray": _DECODER,
    "ocrd_odem_spark.plans.queries.retired_relational": (
        "the oracle-verified single forms of q10/q12 that "
        "tests/test_oracle_parity.py parametrizes over; the query registry "
        "caps at 50 queries"
    ),
}

# the reference that tests compare against, not an engine capability
ORACLE = f"{PKG}.oracle"


def _package_defs() -> dict[str, str]:
    """Dotted ``module.function`` -> function name, over every top-level
    ``def`` of the package but ``oracle`` and the modules in ``KEEP``."""
    out: dict[str, str] = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        mod = _module_name(path)
        if mod == ORACLE or mod in KEEP:
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{mod}.{node.name}"] = node.name
    return out


def _referenced_names() -> set[str]:
    """Every name non-test code uses: loaded names, attributes, and the
    names ``import`` statements bind."""
    out: set[str] = set()
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
    return out


def test_every_package_def_has_a_non_test_reference():
    used = _referenced_names()
    unused = sorted(
        qual for qual, name in _package_defs().items()
        if name not in used and qual not in KEEP_FUNCTIONS
    )
    assert not unused, (
        f"referenced only by tests (delete, or list in KEEP_FUNCTIONS): {unused}"
    )


def test_keep_functions_exist_and_are_still_unreferenced():
    defs = _package_defs()
    used = _referenced_names()
    for qual in KEEP_FUNCTIONS:
        assert qual in defs, f"KEEP_FUNCTIONS names a missing function: {qual}"
        assert defs[qual] not in used, (
            f"{qual} is referenced; drop it from KEEP_FUNCTIONS"
        )
