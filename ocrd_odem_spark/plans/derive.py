"""Deterministic spans-view derivation from the ``documents`` table, in two
SQL dialects (Spark SQL + DuckDB).

The driver's correctness gate runs each Spark query against a DuckDB oracle
over the same parquet files.  The interleaved span table the engine operates
on is therefore *derived* — identically, engine-by-engine — from the
``documents`` table's text with pure integer arithmetic: tokens are grouped
8 per line, 10 lines per page, and deterministic decorations inject the
content features the reference semantics exercise (empty lines, hyphen
wraps, punctuation-only tokens, trailing punctuation, short-after-split
tokens).

Everything here is plain portable SQL; dialect differences (array slicing,
``size`` vs ``len``, ``explode`` vs ``unnest``) are isolated in the
``_DIALECTS`` table.
"""

from __future__ import annotations

from ..constants import ODEM_PUNCTUATIONS

SPARK = "spark"
DUCKDB = "duckdb"

_DIALECTS = {
    SPARK: {
        "split": lambda s, sep: f"split({s}, '{sep}')",
        "size": lambda a: f"size({a})",
        "slice": lambda a, start, length: f"slice({a}, {start}, {length})",
        "join": lambda a, sep: f"array_join({a}, '{sep}')",
        "series": lambda n: f"explode(sequence(0, {n} - 1))",
        "intdiv": lambda a, b: f"({a} div {b})",
        "str": lambda x: f"cast({x} as string)",
        "reverse": lambda a: f"reverse({a})",
        "get1": lambda a, i: f"get({a}, {i} - 1)",  # null-safe, 1-based i
        "regex_sub": lambda s, pat, rep: f"regexp_replace({s}, '{pat}', '{rep_dollar(rep)}')",
        "empty_str_arr": "array()",
        "arr": lambda *items: "array(" + ", ".join(f"'{x}'" for x in items) + ")",
    },
    DUCKDB: {
        "split": lambda s, sep: f"string_split({s}, '{sep}')",
        "size": lambda a: f"len({a})",
        "slice": lambda a, start, length: f"list_slice({a}, {start}, ({start}) + ({length}) - 1)",
        "join": lambda a, sep: f"array_to_string({a}, '{sep}')",
        "series": lambda n: f"unnest(range(0, {n}))",
        "intdiv": lambda a, b: f"({a} // {b})",
        "str": lambda x: f"cast({x} as varchar)",
        "reverse": lambda a: f"list_reverse({a})",
        "get1": lambda a, i: f"list_extract({a}, {i})",
        "regex_sub": lambda s, pat, rep: f"regexp_replace({s}, '{pat}', '{rep_backslash(rep)}', 'g')",
        "empty_str_arr": "[]::VARCHAR[]",
        "arr": lambda *items: "[" + ", ".join(f"'{x}'" for x in items) + "]",
    },
}


def rep_dollar(rep: str) -> str:
    """Spark regexp_replace group refs use $1."""
    return rep.replace(r"\g<", "$").replace(">", "") if r"\g<" in rep else rep


def rep_backslash(rep: str) -> str:
    """DuckDB (RE2) group refs use \\1."""
    return rep.replace(r"\g<", "\\").replace(">", "") if r"\g<" in rep else rep


def sql_str(value: str, dialect: str) -> str:
    """A single-quoted SQL string literal with dialect-correct escaping."""
    body = value.replace("'", "''")
    if dialect == SPARK:
        body = body.replace("\\", "\\\\")
    return f"'{body}'"


def punct_literal(dialect: str) -> str:
    return sql_str(ODEM_PUNCTUATIONS, dialect)


def spans_cte(dialect: str) -> str:
    """CTE body deriving the flat spans view from ``documents``.

    Emits relation ``spans_input(doc_id string, kind, text, media_ref,
    offset int)`` — one media span per page, text lines of 8 tokens, pages
    of 10 lines, deterministic decorations keyed on ``doc_id*31 + i``.
    """
    d = _DIALECTS[dialect]
    tk_slice = d["join"](d["slice"]("tk", "i*8 + 1", "8"), " ")
    return f"""
_sp_toks AS (
  SELECT doc_id AS src_id,
         concat('synth_', lpad({d['str']('doc_id')}, 6, '0')) AS doc_key,
         {d['split']('text', ' ')} AS tk
  FROM documents
),
_sp_nl AS (
  SELECT *, greatest(1, cast(ceil({d['size']('tk')} / 8.0) AS int)) AS n_lines
  FROM _sp_toks
),
_sp_lines AS (
  SELECT src_id, doc_key, tk, {d['series']('n_lines')} AS i FROM _sp_nl
),
_sp_linetext AS (
  SELECT doc_key AS doc_id, i,
         cast({d['intdiv']('i', '10')} AS int) AS p,
         CASE WHEN (src_id*31 + i) % 13 = 0 THEN ''
              WHEN (src_id*31 + i) % 7  = 0 THEN concat({tk_slice}, '-')
              WHEN (src_id*31 + i) % 5  = 0 THEN concat({tk_slice}, ' — ⸗')
              WHEN (src_id*31 + i) % 3  = 0 THEN concat({tk_slice}, ' a. Jch.')
              ELSE {tk_slice}
         END AS text
  FROM _sp_lines
),
spans_input AS (
  SELECT doc_id, 'text' AS kind, text,
         lpad({d['str']('p + 1')}, 8, '0') AS media_ref,
         cast(i + p + 1 AS int) AS offset
  FROM _sp_linetext
  UNION ALL
  SELECT doc_id, 'media' AS kind, '' AS text,
         lpad({d['str']('p + 1')}, 8, '0') AS media_ref,
         cast(p * 11 AS int) AS offset
  FROM (SELECT DISTINCT doc_id, p FROM _sp_linetext)
)"""


def meta_cte(dialect: str) -> str:
    """CTE body deriving the METADATA dimensions from ``documents`` —
    identically in both dialects, pure integer arithmetic keyed on the
    source doc_id.

    Emits ``doc_meta_input(doc_id, src_id, mets_type, pica_type, languages,
    gvk_ppn, urn)`` and ``page_meta_input(doc_id, src_id, media_ref,
    phys_id, label, log_types, width, height, n_bytes)``.  Page count per
    document matches ``spans_cte`` exactly (8 tokens/line, 10 lines/page),
    so page dimensions JOIN the derived span corpus on (doc_id, media_ref).

    Deterministic decorations exercise the metadata operator family:
    non-print METS types and PICA marks (F1), blacklisted labels/logical
    types (F3/F4), unlinked pages (J2), unmapped languages (J4), missing
    gvk-ppn identifiers (T11).  width/height are multiples of 100 and
    n_bytes multiples of MiB so megapixel/MB aggregates stay float-exact
    cross-engine (A2).
    """
    d = _DIALECTS[dialect]
    arr = d["arr"]
    s = d["str"]
    return f"""
_mt_base AS (
  SELECT doc_id AS src_id,
         concat('synth_', lpad({s('doc_id')}, 6, '0')) AS doc_key,
         greatest(1, cast(ceil({d['size'](d['split']('text', ' '))} / 8.0) AS int)) AS n_lines
  FROM documents
),
_mt_docs AS (
  SELECT src_id, doc_key,
         cast(ceil(n_lines / 10.0) AS int) AS n_pages
  FROM _mt_base
),
doc_meta_input AS (
  SELECT doc_key AS doc_id, src_id,
         CASE src_id % 7 WHEN 0 THEN 'monograph' WHEN 1 THEN 'volume'
              WHEN 2 THEN 'issue' WHEN 3 THEN 'additional'
              WHEN 4 THEN 'newspaper_year' WHEN 5 THEN 'map'
              ELSE 'monograph' END AS mets_type,
         CASE src_id % 5 WHEN 0 THEN 'Aa' WHEN 1 THEN 'Af' WHEN 2 THEN 'Ox'
              WHEN 3 THEN 'AZ' ELSE 'Hu' END AS pica_type,
         CASE src_id % 6 WHEN 0 THEN {arr('ger')} WHEN 1 THEN {arr('lat', 'ger')}
              WHEN 2 THEN {arr('ara')} WHEN 3 THEN {arr('ger', 'heb')}
              WHEN 4 THEN {arr('unk')} ELSE {arr('lat')} END AS languages,
         CASE WHEN src_id % 4 = 0 THEN NULL
              ELSE concat('0', {s('58134000 + src_id')}) END AS gvk_ppn,
         concat('urn:nbn:de:gbv:3:1-', {s('src_id')}) AS urn
  FROM _mt_docs
),
_mt_pages AS (
  SELECT doc_key AS doc_id, src_id, {d['series']('n_pages')} AS p FROM _mt_docs
),
page_meta_input AS (
  SELECT doc_id, src_id,
         lpad({s('p + 1')}, 8, '0') AS media_ref,
         concat('PHYS_', lpad({s('p + 1')}, 4, '0')) AS phys_id,
         CASE (src_id*17 + p) % 11 WHEN 0 THEN '[Leerseite]'
              WHEN 1 THEN '[Colorchecker]'
              ELSE concat('Seite ', {s('p + 1')}) END AS label,
         CASE (src_id*13 + p) % 9 WHEN 0 THEN {arr('cover_front')}
              WHEN 1 THEN {arr('cover_back', 'monograph')}
              WHEN 8 THEN {d['empty_str_arr']}
              ELSE {arr('chapter')} END AS log_types,
         cast(100 * (8 + (src_id*37 + p*11) % 20) AS int) AS width,
         cast(100 * (10 + (src_id*23 + p*7) % 24) AS int) AS height,
         cast(1048576 * (1 + (src_id*101 + p*13) % 5) AS bigint) AS n_bytes
  FROM _mt_pages
)"""


def postprocess_tokens_sql(token_list: str, dialect: str) -> str:
    """Token post-processing (F5/F6/T1) over a token array — portable lambda.

    Mirrors ``oracle.postprocess_line_tokens`` for pre-trimmed
    single-spaced tokens.
    """
    d = _DIALECTS[dialect]
    p = punct_literal(dialect)
    empty = d["empty_str_arr"]
    last = "substr(t, length(t), 1)"
    rem = "substr(t, 1, length(t) - 1)"
    case = f"""CASE
      WHEN translate(t, {p}, '') = '' THEN {empty}
      WHEN length(t) > 1 AND translate({last}, {p}, '') = '' THEN
        CASE WHEN length(t) - 1 >= 2 THEN [{rem}, {last}]
             ELSE [{last}] END
      WHEN length(t) >= 2 THEN [t]
      ELSE {empty} END"""
    if dialect == SPARK:
        case = (
            case.replace(f"[{rem}, {last}]", f"array({rem}, {last})")
            .replace(f"[{last}]", f"array({last})")
            .replace("[t]", "array(t)")
        )
        return f"flatten(transform({token_list}, t -> {case}))"
    return f"flatten(list_transform({token_list}, t -> {case}))"


def postprocess_line_sql(line: str, dialect: str) -> str:
    d = _DIALECTS[dialect]
    toks = postprocess_tokens_sql(d["split"](line, " "), dialect)
    return d["join"](toks, " ")


def dialect(name: str) -> dict:
    return _DIALECTS[name]
