"""Oversized-document stress.

The extract's Arrow stage handles a 4000-page (~45k-span) book, chain-heavy
or not, in one linear loop, byte-equal to the Python oracle.  (Several
tests are named for the JVM higher-order-function de-hyphenation tiers, a
quadratic fold and a linear "marks" tier, that they first pinned; those
tiers are gone, and every case now runs through the Arrow stage.)
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from ocrd_odem_spark import gen, oracle
from ocrd_odem_spark.plans import pipeline
from ocrd_odem_spark.schema import DOCS_SCHEMA


def _golden(doc):
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in oracle.extract_document_dehyphenated(doc["spans"])
    ]


def _got(df):
    rows = pipeline.extract(df, dehyphenate=True).collect()
    return [
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in sorted(rows, key=lambda r: r["doc_id"])
    ]


def test_giant_doc_both_modes_linear(spark):
    doc = gen.make_document(5, 0, n_pages=4000)
    assert len(doc["spans"]) > 30000
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    t0 = time.time()
    assert _got(df) == [_golden(doc)]
    assert time.time() - t0 < 150  # a linear loop: seconds, not minutes


def test_big_chainy_doc_exact_fold(spark):
    """A big doc with chain-prone single-token hyphen lines."""
    doc = gen.make_document(5, 1, n_pages=400)
    # inject chain-prone single-token hyphen lines
    for s in doc["spans"][:200]:
        if s["kind"] == "text" and s["offset"] % 7 == 3:
            s["text"] = "solo-"
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    assert _got(df) == [_golden(doc)]


def test_marks_tier_equals_fold_on_adversarial_chains(spark):
    """The extract equals the oracle on every chain shape: donation
    cascades, drop branches, media boundaries, trailing hyphens,
    whole-line '-' tokens."""

    def doc(i, lines):
        spans, off = [], 0
        for ln in lines:
            if ln == "<media>":
                spans.append({"kind": "media", "text": "", "media_ref": f"m{off}", "offset": off})
            else:
                ref = next((s["media_ref"] for s in reversed(spans) if s["kind"] == "media"), "m0")
                spans.append({"kind": "text", "text": ln, "media_ref": ref, "offset": off})
            off += 1
        return {"doc_id": f"adv{i}", "spans": spans}

    cases = [
        ["<media>", "a-", "b-", "c-", "d-", "wort rest"],
        ["<media>", "zu-", "", "danach mehr"],
        ["<media>", "x-", "<media>", "kein merge hier"],
        ["<media>", "lang wort-", "kurz-", "-", "ende-"],
        ["<media>", "-", "-", "-", "-"],
        ["<media>", "wort-"],
        ["<media>", "a- b-", "c- d-", "e"],
        [],
    ]
    docs = [doc(i, c) for i, c in enumerate(cases)]
    got = _got(spark.createDataFrame(docs, DOCS_SCHEMA))
    for case, d, spans in zip(cases, docs, got, strict=True):
        assert spans == _golden(d), case


def test_giant_chainy_doc_linear_marks_tier(spark):
    """A chain-y 45k-span book finishes in seconds, byte-equal to the
    Python oracle."""
    doc = gen.make_document(5, 2, n_pages=4000)
    assert len(doc["spans"]) > 30000
    # dense chain-prone injections, incl. consecutive runs (real chains)
    for s in doc["spans"]:
        if s["kind"] == "text" and s["offset"] % 5 in (1, 2):
            s["text"] = "kett-"
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    golden = _golden(doc)
    t0 = time.time()
    assert _got(df) == [golden]
    assert time.time() - t0 < 150  # an O(n²) fold took minutes here


def test_giant_single_page_stats_linear(spark):
    """A 10^4-line SINGLE page runs through page_text_stats_flat in linear
    time (an O(n²) per-page fold would take minutes) and matches the
    oracle exactly."""
    from ocrd_odem_spark.operators.quality import page_text_stats_flat

    n = 10_000
    lines = []
    for i in range(n):
        if i % 3 == 0:
            lines.append(f"wrap{i}-")          # chain-heavy: thirds hyphenate
        elif i % 7 == 0:
            lines.append(" ")                   # blank successor drops
        else:
            lines.append(f"wort{i} rest{i}")
    spans = [
        {"kind": "media", "text": "", "media_ref": "p0001", "offset": 0},
        *(
            {"kind": "text", "text": t, "media_ref": "p0001", "offset": i + 1}
            for i, t in enumerate(lines)
        ),
    ]
    doc = {"doc_id": "giantpage", "spans": spans}
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    t0 = time.time()
    text = pipeline.to_flat(df).where(F.col("kind") == "text")
    rows = page_text_stats_flat(text).collect()
    elapsed = time.time() - t0
    assert len(rows) == 1
    st = oracle.textlines_to_data([t for t in lines if len(t) > 0])
    r = rows[0]
    assert (
        r["file_string"], r["n_lines"], r["n_normalized"], r["n_sparse"], r["n_dense"]
    ) == (st.file_string, st.n_lines, st.n_normalized, st.n_sparse, st.n_dense)
    assert elapsed < 60, f"page stats should be linear, took {elapsed:.1f}s"
