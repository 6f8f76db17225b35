"""Exact character-class constants of the extraction semantics.

These reproduce, codepoint for codepoint, the character sets the reference
engine (ulb-sachsen-anhalt/ocrd-odem) uses in its OCR post-processing:

* ``ODEM_PUNCTUATIONS`` — ``string.punctuation`` plus the em-dash
  ("Geviertstrich", U+2014) and the double-oblique hyphen (U+2E17), used for
  the fully-punctuated-token drop and the trailing-punctuation split
  (reference: ``lib/odem/processing/ocr_files.py:17-23``).
* ``PUNCTUATIONS`` — the wider set including the dash block U+2012..U+2017
  and the quotation block U+2018..U+201F, used by the (currently optional)
  index-path normalisation (``ocr_files.py:36``).
* ``CLEAR_MARKS`` — directional/formatting marks stripped from PAGE word
  tokens (``lib/odem/ocr/ocr_model.py:23-29``).
* ``BAD_CHARS_SANITIZE`` — the character set removed by the quality-path
  sanitiser (``lib/odem/ocr/ocr_pipeline.py:455``).

Keeping these in Python (and applying them via ``translate``-style literal
mappings, never regex character classes) guarantees byte-identical behaviour
with the reference regardless of locale or regex-engine semantics.
"""

from __future__ import annotations

import string

# "Geviertstrich"
EM_DASH = "—"
# very common separator in Fraktur prints
DOUBLE_OBLIQUE_HYPHEN = "⸗"

#: punctuation set of the extract path (fully-punctuated drop + trailing split)
ODEM_PUNCTUATIONS: str = string.punctuation + EM_DASH + DOUBLE_OBLIQUE_HYPHEN

#: minimum surviving token length (reference MINIMUM_WORD_LEN)
MINIMUM_WORD_LEN: int = 2

#: wider punctuation set of the index path: ASCII + dashes U+2012..17 + quotes U+2018..1F
PUNCTUATIONS: str = string.punctuation + "".join(
    chr(c) for c in range(0x2012, 0x2018)
) + "".join(chr(c) for c in range(0x2018, 0x2020))

#: COMBINING SMALL LETTER E — vocal-ligature normalisation target
COMBINING_SMALL_E = "ͤ"

#: directional / zero-width marks stripped from PAGE tokens
CLEAR_MARKS: str = "".join(
    [
        "‏",  # RIGHT-TO-LEFT MARK
        "‎",  # LEFT-TO-RIGHT MARK
        "﻿",  # ZERO WIDTH NO-BREAK SPACE (BOM)
        "‌",  # ZERO WIDTH NON-JOINER
        "‬",  # POP DIRECTIONAL FORMATTING
    ]
)

#: characters removed outright by the quality-path sanitiser
BAD_CHARS_SANITIZE: str = "0123456789“„\"'?!*.;:-=[]()|"

#: long s normalised to plain s on the quality path
LONG_S = "ſ"

#: F1 relevance: METS types and PICA 2nd characters of a relevant document
#: (reference ``mets.py:17-18,107-122``)
RELEVANT_METS_TYPES = ("monograph", "volume", "issue", "additional")
RELEVANT_PICA_CHARS = ("a", "f", "F", "Z", "B")

#: F3/F4 page blacklist: substrings of the page label, and logical types
#: (reference ``mets.py:417-420``)
BLACKLIST_LABELS = ("Colorchecker", "Leerseite")
BLACKLIST_LOG_TYPES = ("cover_front", "cover_back")

#: languages whose lines are folded right-to-left (reference O3/T8)
RTL_LANGUAGES = ("ara", "heb", "fas")

#: span kinds of the interleaved input table
KIND_MEDIA = "media"
KIND_TEXT = "text"

#: record states mirrored from the reference's work-queue state machine
MARK_UNSET = "n.a."
MARK_BUSY = "ocr_busy"
MARK_FAIL = "ocr_fail"
MARK_SKIP = "ocr_skip"
MARK_DONE = "ocr_done"
