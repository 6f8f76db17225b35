"""Property-based parity: Spark column ops == oracle on adversarial lines.

Hypothesis generates token soups heavy in the semantic edge cases
(punctuation-only tokens, trailing punctuation, 1-char tokens, hyphen
endings, unicode glyphs); a single Spark job evaluates all examples at once
and every example must agree with the pure-Python oracle.
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
    """One batched Spark evaluation over a corpus of nasty lines."""
    from pyspark.sql import functions as F

    from ocrd_odem_spark.operators.tokens import postprocess_line
    from ocrd_odem_spark.operators.quality import sanitize_line

    lines = [
        "", "-", "--", "a", "ab", "a.", "A.", "wort.", "wort.-", ".wort",
        "... — ⸗", "zu- sammen", "und der die", "Waſſer 12 „zitat“",
        "x y z", "'quote' (paren) [brack]", "end⸗", "end—", "a- b- c- d",
        "J. Jch Jn", "ſ ſſ ſſſ", "tok‏mark", "..", "a,b.c;",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    rows = df.select(
        "line",
        postprocess_line(F.col("line")).alias("post"),
        sanitize_line(F.col("line")).alias("sane"),
    ).collect()
    for r in rows:
        want_post = " ".join(oracle.postprocess_line_tokens(r["line"].split(" ")))
        assert r["post"] == want_post, (r["line"], r["post"], want_post)
        want_sane = oracle.sanitize_chars([r["line"]])[0]
        assert r["sane"] == want_sane, (r["line"], r["sane"], want_sane)
