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


def test_arrow_mode_equals_hof(spark, corpus, docs_df):
    """Both execution modes produce identical span sequences."""
    for dehyph in (False, True):
        hof = _spark_result(pipeline.extract(docs_df, dehyphenate=dehyph))
        arrow = _spark_result(
            pipeline.extract(docs_df, dehyphenate=dehyph, mode="arrow")
        )
        _assert_equal(arrow, hof)


def test_arrow_mode_rejects_joins(spark, docs_df, doc_meta_df):
    import pytest

    with pytest.raises(ValueError, match="arrow mode"):
        pipeline.extract(docs_df, doc_meta=doc_meta_df, mode="arrow")


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


def test_arrow_seed_sweep_matches_oracle(spark):
    """The Arrow tier matches the oracle directly, bare and de-hyphenated,
    on fresh feature mixes that include oversized "book" documents."""
    from ocrd_odem_spark import gen
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    for seed in (1, 99, 2026):
        corpus = gen.make_corpus(seed, 60, oversized_every=20, oversized_pages=50)
        df = spark.createDataFrame(corpus, DOCS_SCHEMA)
        for dehyph, fn in (
            (False, oracle.extract_document),
            (True, oracle.extract_document_dehyphenated),
        ):
            actual = _spark_result(
                pipeline.extract(df, dehyphenate=dehyph, mode="arrow")
            )
            _assert_equal(actual, _oracle_result(corpus, fn))
