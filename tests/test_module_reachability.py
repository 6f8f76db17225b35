"""Every package module, and every top-level package function, has a
caller outside the tests.

A module that no query, job or benchmark imports is dead weight: it is
deleted rather than kept green by its own tests.  This walks the imports of
all non-test code with ``ast`` and asserts each ``ocrd_odem_spark`` module
is imported by some file other than itself.  The same holds one level down:
each top-level ``def`` in ``ocrd_odem_spark/**/*.py`` must be referenced by
non-test code (as a name, an attribute or an imported name), so a second
form of an operator, or a stage that only its own test runs, cannot linger.
And each defaulted parameter of those functions must be set by some non-test
call, so an option with one value in use cannot linger either.  ``oracle.py``
(the reference the tests compare against) and the modules in ``KEEP`` are
exempt.
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


def _package_defs() -> dict[str, ast.FunctionDef]:
    """Dotted ``module.function`` -> its ``def``, over every top-level
    ``def`` of the package but ``oracle`` and the modules in ``KEEP``."""
    out: dict[str, ast.FunctionDef] = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        mod = _module_name(path)
        if mod == ORACLE or mod in KEEP:
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{mod}.{node.name}"] = node
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
        qual for qual, node in _package_defs().items()
        if node.name not in used and qual not in KEEP_FUNCTIONS
    )
    assert not unused, (
        f"referenced only by tests (delete, or list in KEEP_FUNCTIONS): {unused}"
    )


def test_keep_functions_exist_and_are_still_unreferenced():
    defs = _package_defs()
    used = _referenced_names()
    for qual in KEEP_FUNCTIONS:
        assert qual in defs, f"KEEP_FUNCTIONS names a missing function: {qual}"
        assert defs[qual].name not in used, (
            f"{qual} is referenced; drop it from KEEP_FUNCTIONS"
        )


# Defaulted parameters that no non-test call sets, kept on purpose.
_FIXTURE = "reference-fixture behaviour the golden METS/export tests pin"
_READING_ORDER = "PAGE reading-order reconstruction, named in the paper"
KEEP_OPTIONS = {
    "ocrd_odem_spark.sources.state.run_with_checkpoint.fail_before_commit": (
        "crash injection between the data move and the manifest commit"
    ),
    "ocrd_odem_spark.functions.dedup.neardup_components.max_rounds": (
        "the non-convergence error test lowers it"
    ),
    "ocrd_odem_spark.functions.dedup.exact_duplicates.with_stats": (
        "the truncation report of the capped id sample"
    ),
    "ocrd_odem_spark.functions.similarity.lsh_cosine_topk.n_planes": (
        "the recall test widens the buckets with it"
    ),
    "ocrd_odem_spark.plans.pipeline.blacklisted_pages.type_tokens": _FIXTURE,
    "ocrd_odem_spark.plans.pipeline.blacklisted_pages.ref_col": _FIXTURE,
    "ocrd_odem_spark.metsparse.shred_mets.file_group": _FIXTURE,
    "ocrd_odem_spark.operators.replace.media_file_name.ext": _FIXTURE,
    "ocrd_odem_spark.operators.replace.normalize_page_ref.prefix": _FIXTURE,
    "ocrd_odem_spark.sources.export.export_documents.mets_col": _FIXTURE,
    "ocrd_odem_spark.xmlparse.parse_page_lines.vertical": _READING_ORDER,
    "ocrd_odem_spark.xmlparse.shred_xml.reorder_col": _READING_ORDER,
}


def _package_options() -> dict[str, tuple[str, str, int | None]]:
    """Dotted ``module.function.parameter`` -> (function name, parameter,
    positional index or None for keyword-only), over every defaulted
    parameter of the defs ``_package_defs`` covers."""
    out: dict[str, tuple[str, str, int | None]] = {}
    for qual, node in _package_defs().items():
        a = node.args
        positional = a.posonlyargs + a.args
        defaulted = [
            (p.arg, i)
            for i, p in enumerate(positional)
            if i >= len(positional) - len(a.defaults)
        ]
        defaulted += [
            (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        for name, index in defaulted:
            out[f"{qual}.{name}"] = (node.name, name, index)
    return out


def _non_test_calls() -> dict[str, list[tuple[int, set[str], bool]]]:
    """Called name (``f(...)`` or ``x.f(...)``) -> one ``(positional
    argument count, keyword names, has a * or ** splat)`` per non-test
    call."""
    out: dict[str, list[tuple[int, set[str], bool]]] = {}
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            splat = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            )
            out.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, splat)
            )
    return out


def _is_set(calls, fn: str, param: str, index: int | None) -> bool:
    return any(
        splat or param in keywords or (index is not None and n_pos > index)
        for n_pos, keywords, splat in calls.get(fn, ())
    )


def test_every_package_option_is_set_outside_tests():
    calls = _non_test_calls()
    unset = sorted(
        qual for qual, (fn, param, index) in _package_options().items()
        if not _is_set(calls, fn, param, index) and qual not in KEEP_OPTIONS
    )
    assert not unset, (
        "options no non-test call sets (make them constants, or list in "
        f"KEEP_OPTIONS): {unset}"
    )


def test_keep_options_exist_and_are_still_unset():
    options = _package_options()
    calls = _non_test_calls()
    for qual in KEEP_OPTIONS:
        assert qual in options, f"KEEP_OPTIONS names a missing option: {qual}"
        assert not _is_set(calls, *options[qual]), (
            f"{qual} is set by non-test code; drop it from KEEP_OPTIONS"
        )
