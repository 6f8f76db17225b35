"""Token post-processing on adversarial lines: the oracle's own
consistency, and the Spark extract == oracle.

Hypothesis generates token soups heavy in the semantic edge cases
(punctuation-only tokens, trailing punctuation, 1-char tokens, hyphen
endings, unicode glyphs) for the oracle check; a single Spark job runs a
fixed corpus of nasty lines through the extract, and every line must agree
with the pure-Python oracle.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from ocrd_odem_spark import oracle

_TOKEN = st.one_of(
    st.sampled_from(
        ["und", "der", "Waſſer", "Gluͤck", "a", "X", "...", "—", "⸗", "!!",
         "wort.", "Jch,", "A.", "zu-", "-", "x-", "..", "St.", "”—”"]
    ),
    st.text(
        alphabet="abßſͤA.!-—⸗,;:?()[]", min_size=1, max_size=8
    ).filter(lambda s: " " not in s),
)

_LINE = st.lists(_TOKEN, min_size=0, max_size=8).map(" ".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(_LINE, min_size=0, max_size=8))
def test_token_postprocess_property(lines):
    # pure-python double-check of the oracle's own internal consistency:
    # postprocessed lines never keep fully-punctuated or short bare tokens
    for line in lines:
        out = oracle.postprocess_line_tokens(line.split(" "))
        for i, tok in enumerate(out):
            prev_split = i > 0 and len(tok) == 1 and oracle.is_fully_punctuated(tok)
            if not oracle.is_fully_punctuated(tok):
                continue
            # a surviving pure-punct token must be a split-off single char
            assert len(tok) == 1, (line, out)


def test_spark_matches_oracle_on_edge_lines(spark):
    """One batched Spark extract over a corpus of nasty lines, one doc per
    line: each doc equals the oracle's."""
    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    lines = [
        "", "-", "--", "a", "ab", "a.", "A.", "wort.", "wort.-", ".wort",
        "... — ⸗", "zu- sammen", "und der die", "Waſſer 12 „zitat“",
        "x y z", "'quote' (paren) [brack]", "end⸗", "end—", "a- b- c- d",
        "J. Jch Jn", "ſ ſſ ſſſ", "tok‏mark", "..", "a,b.c;",
    ]
    corpus = [
        {"doc_id": f"{i:02d}", "spans": [
            {"kind": "media", "text": "", "media_ref": "p1", "offset": 0},
            {"kind": "text", "text": line, "media_ref": "p1", "offset": 1},
        ]}
        for i, line in enumerate(lines)
    ]
    df = spark.createDataFrame(corpus, DOCS_SCHEMA)
    got = {r["doc_id"]: r["spans"] for r in pipeline.extract(df).collect()}
    for doc in corpus:
        line = doc["spans"][1]["text"]
        want = [
            (s["kind"], s["text"]) for s in oracle.extract_document(doc["spans"])
        ]
        spans = [(s["kind"], s["text"]) for s in got[doc["doc_id"]]]
        assert spans == want, (line, spans, want)
