"""Replacement / normalisation operators (T3, T6, T7, T10).

* T3 ``StepPostReplaceCharsRegex`` (``ocr_pipeline.py:260-278``): regex
  group replace (e.g. ``J([cdhmn])`` with ``J -> I``); ``regex_rewrite``
  turns it into one plain regex, which the INI step chain
  (``config.line_chain``) runs in the extract's Arrow stage.  The T2
  literal replacements (``StepPostReplaceChars``) run there too, as
  chained ``str.replace``.
* T6 ``_normalize_string_content`` (``ocr_files.py:166-184``): wide
  punctuation strip unless the token is purely alphabetic (dormant in the
  reference's current flow; q53 runs it).
* T7 ``_normalize_vocal_ligatures`` (``ocr_files.py:187-213``):
  ``aͤ/oͤ/uͤ -> ä/ö/ü``; other bases are an error channel; stray combining
  marks stripped.
* T10 fileName / Page@ID enrichment (``ocr_pipeline.py:470-531``):
  media_ref -> ``{prefix}{stem}`` page ids and ``{stem}.jpg`` file names.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import COMBINING_SMALL_E, PUNCTUATIONS


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
