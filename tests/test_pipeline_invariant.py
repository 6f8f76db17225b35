"""Flagship invariant: Spark extraction == pure-Python oracle, span for span.

The oracle re-states the reference's loops (ocr_files.py:52-163,
ocr_pipeline.py:425-447) over the span model; the Spark plan must reproduce
its output exactly: ``(kind, text, media_ref, order)`` per doc_id.
"""

from __future__ import annotations

from ocrd_odem_spark import oracle
from ocrd_odem_spark.plans import pipeline


def _spark_result(df) -> dict[str, list[tuple]]:
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def _oracle_result(corpus, fn) -> dict[str, list[tuple]]:
    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in fn(d["spans"])
        ]
        for d in corpus
    }


def _assert_equal(actual: dict, expected: dict) -> None:
    assert sorted(actual) == sorted(expected)
    for doc_id in expected:
        assert actual[doc_id] == expected[doc_id], (
            f"span sequence mismatch for {doc_id}:\n"
            f"  spark : {actual[doc_id][:8]} ...\n"
            f"  oracle: {expected[doc_id][:8]} ..."
        )


def test_extract_matches_oracle(spark, corpus, docs_df):
    actual = _spark_result(pipeline.extract(docs_df))
    expected = _oracle_result(corpus, oracle.extract_document)
    _assert_equal(actual, expected)


def test_extract_dehyphenated_matches_oracle(spark, corpus, docs_df):
    actual = _spark_result(pipeline.extract(docs_df, dehyphenate=True))
    expected = _oracle_result(corpus, oracle.extract_document_dehyphenated)
    _assert_equal(actual, expected)


def test_extract_is_narrow(docs_df):
    """The flagship plan must not shuffle the fact table."""
    plan = pipeline.extract(docs_df, dehyphenate=True)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_output_offsets_dense(docs_df):
    rows = pipeline.extract(docs_df).collect()
    for r in rows:
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == list(range(len(offsets)))


def test_flat_roundtrip(docs_df):
    flat = pipeline.to_flat(docs_df)
    back = pipeline.from_flat(flat)
    orig = {r["doc_id"]: r["spans"] for r in docs_df.collect()}
    rt = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert sorted(orig) == sorted(rt)
    for k in orig:
        assert sorted(orig[k], key=lambda s: s["offset"]) == list(rt[k])


def _as_tuples(out: dict) -> dict[str, list[tuple]]:
    return {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for doc_id, spans in out.items()
    }


def test_meta_extract_keeps_null_ref_spans(spark):
    """With ``page_meta`` a text span whose ``media_ref`` is null survives,
    in a doc with a blacklisted page and in a doc with none; only the
    spans of the blacklisted page go."""
    from ocrd_odem_spark.schema import DOCS_SCHEMA, PAGE_META_SCHEMA

    corpus = [
        {"doc_id": "with_black", "spans": [
            {"kind": "media", "text": "", "media_ref": "p1", "offset": 0},
            {"kind": "text", "text": "Leere Seite", "media_ref": "p1", "offset": 1},
            {"kind": "media", "text": "", "media_ref": "p2", "offset": 2},
            {"kind": "text", "text": "Wort eins", "media_ref": "p2", "offset": 3},
            {"kind": "text", "text": "ohne Seite", "media_ref": None, "offset": 4},
        ]},
        {"doc_id": "no_black", "spans": [
            {"kind": "media", "text": "", "media_ref": "p1", "offset": 0},
            {"kind": "text", "text": "erste Zeile", "media_ref": "p1", "offset": 1},
            {"kind": "text", "text": "auch ohne", "media_ref": None, "offset": 2},
        ]},
    ]
    pages = [
        {"doc_id": "with_black", "media_ref": "p1", "phys_id": "PHYS_0001",
         "label": "[Leerseite]", "log_types": ["chapter"]},
        {"doc_id": "with_black", "media_ref": "p2", "phys_id": "PHYS_0002",
         "label": "[Seite 2]", "log_types": ["chapter"]},
        {"doc_id": "no_black", "media_ref": "p1", "phys_id": "PHYS_0001",
         "label": "[Seite 1]", "log_types": ["title_page"]},
    ]
    out = pipeline.extract(
        spark.createDataFrame(corpus, DOCS_SCHEMA),
        page_meta=spark.createDataFrame(pages, PAGE_META_SCHEMA),
        dehyphenate=True,
    )
    actual = _spark_result(out)
    assert [t for _, t, ref, _ in actual["with_black"] if ref is None] == ["ohne Seite"]
    assert [t for _, t, ref, _ in actual["no_black"] if ref is None] == ["auch ohne"]
    assert all(ref != "p1" for _, _, ref, _ in actual["with_black"])
    _assert_equal(
        actual,
        _as_tuples(oracle.extract_corpus(corpus, page_meta=pages, dehyphenate=True)),
    )


def test_seed_sweep_matches_oracle(spark):
    """Different generator seeds (fresh feature mixes) all match the oracle."""
    from ocrd_odem_spark import gen
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    for seed in (1, 99, 2026):
        corpus = gen.make_corpus(seed, 12)
        df = spark.createDataFrame(corpus, DOCS_SCHEMA)
        actual = _spark_result(pipeline.extract(df, dehyphenate=True))
        expected = _oracle_result(corpus, oracle.extract_document_dehyphenated)
        _assert_equal(actual, expected)


#: RTL edge lines: leading, trailing and doubled spaces, directional marks
_RTL_EDGE_LINES = [
    " \u200falif  baa ", "\u200e", "  ", "jiim\u200f  dal-", "\ufeffhaa. x",
    "  \u200c kaf lam ", "mim\u202c", "nun -", "sin\u200f\u200f  ", "",
]


def test_arrow_seed_sweep_matches_oracle(spark):
    """The Arrow extract matches the oracle directly, bare and
    de-hyphenated, on fresh feature mixes that include oversized "book"
    documents; and with page and doc metadata (relevance filter, blacklist
    drop, RTL fold), with RTL edge lines planted in the RTL docs."""
    from ocrd_odem_spark import gen
    from ocrd_odem_spark.constants import RTL_LANGUAGES
    from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA

    for seed in (1, 99, 2026):
        corpus = gen.make_corpus(seed, 60, oversized_every=20, oversized_pages=50)
        pages = gen.make_page_meta(seed, corpus)
        docs = gen.make_doc_meta(seed, corpus)
        rtl_docs = {
            d["doc_id"] for d in docs if set(d["languages"]) & set(RTL_LANGUAGES)
        }
        planted = 0
        for doc in corpus:
            if doc["doc_id"] in rtl_docs:
                texts = [s for s in doc["spans"] if s["kind"] == "text"]
                for i, span in enumerate(texts[: len(_RTL_EDGE_LINES)]):
                    span["text"] = _RTL_EDGE_LINES[i]
                    planted += 1
        assert planted > len(_RTL_EDGE_LINES)
        df = spark.createDataFrame(corpus, DOCS_SCHEMA)
        for dehyph, fn in (
            (False, oracle.extract_document),
            (True, oracle.extract_document_dehyphenated),
        ):
            actual = _spark_result(pipeline.extract(df, dehyphenate=dehyph))
            _assert_equal(actual, _oracle_result(corpus, fn))
        actual = _spark_result(
            pipeline.extract(
                df,
                page_meta=spark.createDataFrame(pages, PAGE_META_SCHEMA),
                doc_meta=spark.createDataFrame(docs, DOC_META_SCHEMA),
                dehyphenate=True,
            )
        )
        expected = _as_tuples(
            oracle.extract_corpus(corpus, pages, docs, dehyphenate=True)
        )
        assert 0 < len(expected) < len(corpus)
        _assert_equal(actual, expected)
