"""Replacement / normalisation operators (T2, T3, T6, T7, T10) with
replacement counters (A6).

* T2 ``StepPostReplaceChars`` (``ocr_pipeline.py:197-257``): literal
  multi-char replacements from a config dict, applied in dict order, with
  per-pattern replacement counts.
* T3 ``StepPostReplaceCharsRegex`` (``ocr_pipeline.py:260-278``): regex
  group replace (e.g. ``J([cdhmn])`` with ``J -> I``).
* T6 ``_normalize_string_content`` (``ocr_files.py:166-184``): wide
  punctuation strip unless the token is purely alphabetic (dormant in the
  reference's current flow; available as an optional stage here).
* T7 ``_normalize_vocal_ligatures`` (``ocr_files.py:187-213``):
  ``aͤ/oͤ/uͤ -> ä/ö/ü``; other bases are an error channel; stray combining
  marks stripped.
* T10 fileName / Page@ID enrichment (``ocr_pipeline.py:470-531``):
  media_ref -> ``{prefix}{stem}`` page ids and ``{stem}.jpg`` file names.

Counters are columns, not accumulators — they aggregate exactly (A6) and
survive retries/resume, which Spark accumulators do not guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..constants import COMBINING_SMALL_E, PUNCTUATIONS


def replace_chars(text: Column, dict_chars: dict[str, str]) -> Column:
    """T2: chained literal replacements in dict order."""
    out = text
    for old, new in dict_chars.items():
        out = F.replace(out, F.lit(old), F.lit(new))
    return out


def replace_chars_with_counts(text: Column, dict_chars: dict[str, str]) -> Column:
    """T2+A6: struct<text, counts: map<pattern, hits>> (line-level hit
    counts, matching the reference's per-line ``_update_replacements``)."""
    out = text
    entries = []
    for old, new in dict_chars.items():
        hits = F.when(out.contains(old), F.lit(1)).otherwise(F.lit(0)).cast("long")
        entries += [F.lit(old), hits]
        out = F.replace(out, F.lit(old), F.lit(new))
    return F.struct(out.alias("text"), F.create_map(*entries).alias("counts"))


def replace_regex(text: Column, pattern: str, old: str, new: str) -> Column:
    """T3: within every match of ``pattern`` replace ``old`` -> ``new``, as
    one ``regexp_replace`` of ``regex_rewrite(pattern, old)``."""
    return F.regexp_replace(text, regex_rewrite(pattern, old), new)


def regex_rewrite(pattern: str, old: str) -> str:
    """The regex whose every match T3 replaces by ``new``.

    The reference finds group(1) of ``pattern`` and substitutes ``old``
    inside it; for a pattern ``(old…)`` (the shipped config:
    ``(J[cdhmn]\\w*)``, J->I) that equals replacing ``old`` wherever the
    rest of the group follows it, i.e. ``esc(old)(?=…)``.  Any other pattern
    is returned unchanged, so its whole match is replaced.
    """
    if pattern.startswith(f"({old}") and pattern.endswith(")"):
        inner = pattern[1 + len(old):-1]
        return f"{_esc(old)}(?={inner})"
    return pattern


def _esc(s: str) -> str:
    return "".join(f"\\{c}" if c in r"\.^$*+?()[]{}|" else c for c in s)


def count_regex_lines(df: DataFrame, text_col: str, pattern: str) -> DataFrame:
    """A6 analogue of the golden 185->172 'J'-line counts: rows matching."""
    return df.select(
        F.count(F.when(F.col(text_col).rlike(pattern), 1)).cast("long").alias("n_match")
    )


def normalize_index_content(text: Column) -> Column:
    """T6: strip wide punctuation unless the content is purely alphabetic."""
    return F.when(
        text.rlike(r"^[^\W\d_]+$"), text
    ).otherwise(F.translate(text, PUNCTUATIONS, ""))


def normalize_vocal_ligatures(text: Column) -> Column:
    """T7: struct<text, error> — aͤ/oͤ/uͤ (incl. umlaut-base variants) fold
    to ä/ö/ü; a combining-e after any other base is an error row."""
    e = COMBINING_SMALL_E
    folded = text
    for base, repl in (("a", "ä"), ("o", "ö"), ("u", "ü"),
                       ("A", "Ä"), ("O", "Ö"), ("U", "Ü")):
        folded = F.replace(folded, F.lit(base + e), F.lit(repl))
    bad = folded.contains(e) & ~text.rlike(f"^[^{e}]*$")
    error = F.when(
        bad, F.concat(F.lit("no conversion for combining e in: "), text)
    )
    return F.struct(
        F.translate(folded, e, "").alias("text"), error.alias("error")
    )


def normalize_page_ref(media_ref: Column, prefix: str = "p") -> Column:
    """T10: page id '{prefix}{stem}' (reference Page@ID='p00000001')."""
    return F.concat(F.lit(prefix), media_ref)


def media_file_name(media_ref: Column, ext: str = ".jpg") -> Column:
    """T10: sourceImageInformation fileName '{stem}.jpg'."""
    return F.concat(media_ref, F.lit(ext))
