"""Quality-path parity: page_text_stats_flat vs the oracle's textlines2data."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocrd_odem_spark import oracle
from ocrd_odem_spark.constants import KIND_TEXT
from ocrd_odem_spark.operators import quality
from ocrd_odem_spark.plans.pipeline import to_flat


def test_page_text_stats_matches_oracle(spark, corpus, docs_df):
    text = to_flat(docs_df).where(F.col("kind") == KIND_TEXT)
    rows = quality.page_text_stats_flat(text).collect()
    actual = {
        (r["doc_id"], r["media_ref"]): (
            r["file_string"], r["n_lines"], r["n_normalized"], r["n_sparse"], r["n_dense"]
        )
        for r in rows
    }
    checked = 0
    for doc in corpus:
        pages: dict[str, list[str]] = {}
        for s in sorted(doc["spans"], key=lambda s: s["offset"]):
            if s["kind"] == KIND_TEXT:
                pages.setdefault(s["media_ref"], []).append(s["text"])
        for ref, lines in pages.items():
            st = oracle.textlines_to_data(lines)
            key = (doc["doc_id"], ref)
            assert key in actual, f"missing page row {key}"
            assert actual[key] == (
                st.file_string, st.n_lines, st.n_normalized, st.n_sparse, st.n_dense
            ), f"{key}: {actual[key]} != oracle {st}"
            checked += 1
    assert checked > 100


def test_estimation_bins(spark):
    scores = [(12.0,), (30.1,), (75.0,), (99.9,), (44.0,), (0.0,)]
    df = spark.createDataFrame(scores, "score double")
    rows = {r["bin"]: r["n"] for r in quality.estimation_bins(df).collect()}
    mean, counts = oracle.estimation_bins([s[0] for s in scores])
    for b in range(5):
        assert rows.get(b, 0) == counts[b], (b, rows, counts)


def test_estimate_quality_with_vocabulary(spark):
    """A4 with a real vocabulary: dictionary misses count as errors."""
    from ocrd_odem_spark.operators.quality import estimate_page_quality

    stats = spark.createDataFrame(
        [("d1", "p1", "gut gut schlecht xyz"), ("d1", "p2", ""), ("d2", "p1", "gut")],
        "doc_id string, media_ref string, file_string string",
    )
    vocab = spark.createDataFrame([("gut",), ("schlecht",)], "word string")
    rows = {(r["doc_id"], r["media_ref"]): r
            for r in estimate_page_quality(stats, known_words=vocab).collect()}
    r1 = rows[("d1", "p1")]
    assert r1["n_words"] == 4 and r1["n_errs"] == 1      # 'xyz' missed
    assert r1["quality_ratio"] == 75.0
    assert rows[("d2", "p1")]["quality_ratio"] == 100.0
    r2 = rows[("d1", "p2")]
    assert r2["n_words"] == 0 and r2["quality_ratio"] == 0.0  # reference: ratio 0


def test_dehyph_merge_count_linear_tier(spark):
    """n_dehyphenated is correct when the big-doc linear tier runs."""
    from ocrd_odem_spark import gen, oracle
    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    doc = gen.make_document(21, 0, n_pages=120)  # > 512 spans, no chain lines likely
    df = spark.createDataFrame([doc], DOCS_SCHEMA)
    row = pipeline.extract(df, dehyphenate=True, with_metrics=True).collect()[0]
    # oracle merge count: run extraction then per-page dehyph counting merges
    extracted = oracle.extract_document(doc["spans"])
    pages: dict[str, list[str]] = {}
    for s in extracted:
        if s["kind"] == "text":
            pages.setdefault(s["media_ref"], []).append(s["text"])
    want = sum(oracle.dehyphenate_lines(lines)[1] for lines in pages.values())
    assert len(doc["spans"]) > 512
    assert row["n_dehyphenated"] == want > 0
