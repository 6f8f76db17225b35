"""Oversized-document stress.

Both modes handle a 4000-page (~45k-span) book: arrow via the linear
Python loop, hof via the size-gated linear dehyphenation tier (the exact
O(n²) fold only runs for small or chain-prone documents — see
operators/dehyphen.py).
"""

from __future__ import annotations

import time

from ocrd_odem_spark import gen, oracle
from ocrd_odem_spark.plans import pipeline
from ocrd_odem_spark.schema import DOCS_SCHEMA


def _golden(doc):
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in oracle.extract_document_dehyphenated(doc["spans"])
    ]


def _got(df, mode):
    rows = pipeline.extract(df, dehyphenate=True, mode=mode).collect()
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in rows[0]["spans"]
    ]


def test_giant_doc_both_modes_linear(spark):
    doc = gen.make_document(5, 0, n_pages=4000)
    assert len(doc["spans"]) > 30000
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    golden = _golden(doc)
    for mode in ("arrow", "hof"):
        t0 = time.time()
        assert _got(df, mode) == golden, mode
        assert time.time() - t0 < 150, mode  # linear tiers: seconds, not minutes


def test_big_chainy_doc_exact_fold(spark):
    """A big doc WITH chain-prone lines auto-routes to the marks tier."""
    doc = gen.make_document(5, 1, n_pages=400)
    # inject chain-prone single-token hyphen lines
    for s in doc["spans"][:200]:
        if s["kind"] == "text" and s["offset"] % 7 == 3:
            s["text"] = "solo-"
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    assert _got(df, "hof") == _golden(doc)


def test_marks_tier_equals_fold_on_adversarial_chains(spark):
    """The marks tier must be byte-equal to the exact fold on every chain
    shape: donation cascades, drop branches, media boundaries, trailing
    hyphens, whole-line '-' tokens."""
    from pyspark.sql import functions as F

    from ocrd_odem_spark.operators import dehyphen

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
    df = spark.createDataFrame([doc(i, c) for i, c in enumerate(cases)], DOCS_SCHEMA)
    out = df.select(
        "doc_id",
        dehyphen._dehyphenate_fold(F.col("spans")).alias("fold"),
        dehyphen._dehyphenate_marks(F.col("spans")).alias("marks"),
    ).collect()
    for i, r in enumerate(sorted(out, key=lambda r: r["doc_id"])):
        assert r["fold"] == r["marks"], cases[i]


def test_giant_chainy_doc_linear_marks_tier(spark):
    """VERDICT r1 item 6: a chain-y 45k-span book finishes in seconds —
    the dispatch auto-routes to the marks tier (exact chain semantics,
    linear array work), byte-equal to the Python oracle."""
    doc = gen.make_document(5, 2, n_pages=4000)
    assert len(doc["spans"]) > 30000
    # dense chain-prone injections, incl. consecutive runs (real chains)
    for s in doc["spans"]:
        if s["kind"] == "text" and s["offset"] % 5 in (1, 2):
            s["text"] = "kett-"
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    golden = _golden(doc)
    t0 = time.time()
    assert _got(df, "hof") == golden
    assert time.time() - t0 < 150  # the O(n²) fold took minutes here


def test_giant_single_page_stats_linear(spark):
    """A 10^4-line SINGLE page runs through page_text_stats in linear
    time (an O(n²) per-page fold would take minutes) and matches the
    oracle exactly."""
    from ocrd_odem_spark.operators.quality import page_text_stats

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
    rows = page_text_stats(df).collect()
    elapsed = time.time() - t0
    assert len(rows) == 1
    st = oracle.textlines_to_data([t for t in lines if len(t) > 0])
    r = rows[0]
    assert (
        r["file_string"], r["n_lines"], r["n_normalized"], r["n_sparse"], r["n_dense"]
    ) == (st.file_string, st.n_lines, st.n_normalized, st.n_sparse, st.n_dense)
    assert elapsed < 60, f"page stats should be linear, took {elapsed:.1f}s"
