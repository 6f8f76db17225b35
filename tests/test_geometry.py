"""T1 geometry arithmetic parity on REAL ALTO Strings.

The expected values are computed by a direct restatement of the reference's
``_handle_trailing_puncts`` math (``ocr_files.py:120-152``: per-char width
ceil, shrunken remainder, repositioned punct element) plus the surrounding
drop semantics (``ocr_files.py:62-91``); the Spark operator must reproduce
them exactly, and its text projection must equal the text-only token path.
"""

from __future__ import annotations

import glob
import math
import os
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import Row, functions as F

from ocrd_odem_spark import oracle
from ocrd_odem_spark.constants import MINIMUM_WORD_LEN, ODEM_PUNCTUATIONS
from ocrd_odem_spark.operators.geometry import GEOM_TOKEN_T, postprocess_geom_tokens

RES = "/root/reference/tests/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference fixtures not available"
)


def _expected(tok: dict) -> list[dict]:
    """Reference semantics in plain Python (ocr_files.py:62-91,120-152)."""
    text = tok["text"]
    stripped = text.strip()
    if all(c in ODEM_PUNCTUATIONS for c in stripped):
        return []
    out = dict(tok)
    results = []
    if len(text) > 1 and text[-1] in ODEM_PUNCTUATIONS:
        w_per_char = math.ceil(tok["width"] / len(text))
        new_width = (len(text) - 1) * w_per_char
        rem = dict(tok, text=text[:-1], width=new_width)
        punct = dict(
            tok, text=text[-1], hpos=tok["hpos"] + new_width, width=w_per_char
        )
        if len(rem["text"]) >= MINIMUM_WORD_LEN:
            results = [rem, punct]
        else:
            results = [punct]
    elif len(text) >= MINIMUM_WORD_LEN:
        # reference re-reads the RAW attribute for the final length check
        # (ocr_files.py:80-91), so ' ν' survives
        results = [out]
    return results


def _fixture_lines() -> list[tuple[str, list[dict]]]:
    lines = []
    for path in sorted(glob.glob(os.path.join(RES, "1981185920_42296_FULLTEXT", "*.xml"))):
        root = ET.parse(path).getroot()
        uri = root.tag[1:].split("}", 1)[0]
        q = f"{{{uri}}}"
        for line in root.iter(f"{q}TextLine"):
            toks = [
                {
                    "text": s.get("CONTENT", ""),
                    "hpos": int(s.get("HPOS", 0)),
                    "vpos": int(s.get("VPOS", 0)),
                    "width": int(s.get("WIDTH", 0)),
                    "height": int(s.get("HEIGHT", 0)),
                }
                for s in line.findall(f"{q}String")
            ]
            if toks:
                lines.append((f"{os.path.basename(path)}#{line.get('ID')}", toks))
    return lines


def test_geometry_split_matches_reference_math(spark):
    lines = _fixture_lines()
    assert len(lines) > 50
    df = spark.createDataFrame(
        [Row(line_id=lid, tokens=toks) for lid, toks in lines],
        f"line_id string, tokens array<{GEOM_TOKEN_T}>",
    )
    got = {
        r["line_id"]: [s.asDict() for s in r["out"]]
        for r in df.select(
            "line_id", postprocess_geom_tokens(F.col("tokens")).alias("out")
        ).collect()
    }
    n_splits = 0
    for lid, toks in lines:
        want = [x for t in toks for x in _expected(t)]
        assert got[lid] == want, lid
        n_splits += sum(
            1 for t in toks
            if len(t["text"]) > 1 and t["text"][-1] in ODEM_PUNCTUATIONS
        )
    assert n_splits > 20  # the fixture really exercises the split path


def test_geometry_text_projection_equals_text_path(spark):
    """Dropping the coordinates must give exactly the text-only token path
    (``oracle.postprocess_line_tokens``) for whitespace-clean tokens.  (Tokens with embedded/leading whitespace
    are re-tokenised by the span model's join+split at shred time; the
    geometry path preserves the raw String exactly as the reference does.)"""
    lines = [
        (lid, toks) for lid, toks in _fixture_lines()
        if all(t["text"] == t["text"].strip() and " " not in t["text"]
               for t in toks)
    ]
    assert len(lines) > 50
    df = spark.createDataFrame(
        [Row(line_id=lid, tokens=toks,
             line=" ".join(t["text"] for t in toks)) for lid, toks in lines],
        f"line_id string, tokens array<{GEOM_TOKEN_T}>, line string",
    )
    out = df.select(
        "line_id",
        "line",
        F.transform(
            postprocess_geom_tokens(F.col("tokens")), lambda t: t["text"]
        ).alias("geom_texts"),
    ).collect()
    for r in out:
        want = oracle.postprocess_line_tokens(r["line"].split(" "))
        assert r["geom_texts"] == want, r["line_id"]


def test_geometry_random_tokens_property(spark):
    """Adversarial random geometry tokens: Spark == the reference-math
    mirror for every (text, width) combination incl. width 0, len 1,
    unicode punctuation, pure whitespace."""
    import itertools

    from pyspark.sql import Row

    texts = ["a", "ab", "ab.", "a.", ".", "...", "⸗", "—", "wort⸗", "x-",
             "-", " ", "  ", " ν", "a ", "Jch,", "zu-", "..", "St.", ""]
    widths = [0, 1, 7, 100, 999]
    toks = [
        {"text": t, "hpos": 10 * i, "vpos": 5, "width": w, "height": 20}
        for i, (t, w) in enumerate(itertools.product(texts, widths))
        if t  # empty CONTENT never reaches the splitter in the reference
    ]
    df = spark.createDataFrame(
        [Row(i=0, tokens=toks)], f"i int, tokens array<{GEOM_TOKEN_T}>"
    )
    got = [
        s.asDict()
        for s in df.select(
            postprocess_geom_tokens(F.col("tokens")).alias("out")
        ).collect()[0]["out"]
    ]
    want = [x for t in toks for x in _expected(t)]
    assert got == want
