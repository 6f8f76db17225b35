"""Quality/estimation path operators (reference T5, A3, A4, A5).

Reproduces the reference's ``textlines2data`` dataset construction
(``lib/odem/ocr/ocr_pipeline.py:402-422``): per page, drop empty lines,
de-hyphenate wraps, scrub characters (``_sanitize_chars``,
``ocr_pipeline.py:450-467``), then split into dense (len > 2) and
sparse lines.  Estimation binning follows ``analyze``
(``ocr_pipeline.py:663-682``): mean + 5 fixed-width bins of step 15 with the
last bin clamping.

Plan shape: per-page rows require one shuffle (groupBy doc_id, media_ref) —
pages are naturally small groups, so this is skew-immune even for 1000-page
documents (the book's pages spread over all partitions; this is the "salting
by page" the scale rule asks for, for free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def page_text_stats_flat(flat: DataFrame) -> DataFrame:
    """A3/A4 dataset: one row per page with the reference's
    ``(file_string, n_lines, n_normalized, n_sparse, n_dense)`` tuple,
    dense lines being those longer than 2 characters.

    Input: FLAT text spans ``(doc_id, media_ref, offset, text)``; nested
    documents get there with ``pipeline.to_flat`` and a ``kind == 'text'``
    filter.  The per-page pipeline (order lines, wrap-merge fold, char
    scrub, densify) runs as ``oracle.textlines_to_data`` — the pinned
    ground-truth loop — inside one ``mapInPandas`` stage after a single
    codegen ``collect_list`` regroup, the one shuffle.
    """
    import pandas as pd

    from ..oracle import textlines_to_data

    pages = flat.groupBy("doc_id", "media_ref").agg(
        F.collect_list(
            F.struct(F.col("offset").alias("o"), F.col("text").alias("t"))
        ).alias("items")
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                lines = [
                    it["t"] for it in sorted(rec.items, key=lambda x: x["o"])
                ]
                st = textlines_to_data(lines)
                rows.append(
                    (rec.doc_id, rec.media_ref, st.file_string, st.n_lines,
                     st.n_normalized, st.n_sparse, st.n_dense)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "file_string", "n_lines",
                         "n_normalized", "n_sparse", "n_dense"],
            )

    return pages.mapInPandas(
        run,
        schema="doc_id string, media_ref string, file_string string, "
        "n_lines long, n_normalized long, n_sparse long, n_dense long",
    )


def quality_ratio(n_words: Column, n_errs: Column) -> Column:
    """A4 ratio math of ``StepEstimateOCR.postprocess_response``
    (``ocr_pipeline.py:376-387``): errors clamp to the word count, a page
    with at least as many errors as words scores 0, else
    ``round((n_words - n_errs) / n_words * 100, 3)``.

    Golden anchor: the reference's 500_gray00003 fixture (2636 words, 548
    LanguageTool matches) scores 79.211
    (``tests/test_odem_ocr_pipeline.py:620-643``).
    """
    errs = F.least(n_errs, n_words)
    return F.when(n_words <= errs, F.lit(0.0)).otherwise(
        F.round((n_words - errs) / n_words * 100, 3)
    )


def estimate_page_quality(
    page_stats: DataFrame, known_words: DataFrame | None = None
) -> DataFrame:
    """A4: per-page quality ratio ``(n_words - n_errs) / n_words * 100``
    rounded to 3 (reference ``StepEstimateOCR.postprocess_response``,
    ``ocr_pipeline.py:376-387``).

    The reference counts errors via a LanguageTool HTTP call (external,
    out of scope); the error signal here is dictionary-miss: tokens of the
    sanitised page text not present in ``known_words`` (a broadcast
    vocabulary dimension).  Without a vocabulary, tokens containing any
    non-letter character count as errors — a deterministic stand-in that
    keeps the ratio math and binning exactly reproducible.

    A corpus vocabulary is UNBOUNDED (it grows with the corpus — the q42
    query builds it from 10% of all documents), so it is never force-
    broadcast: the tok-join is left to Catalyst/AQE, which broadcasts small
    vocabularies on its own (spark.sql.autoBroadcastJoinThreshold) and
    shuffle-joins big ones instead of OOM-ing the driver.
    """
    toks = F.filter(F.split(F.col("file_string"), " "), lambda t: t != "")
    pages = page_stats.select(
        "doc_id", "media_ref", F.size(toks).cast("long").alias("n_words"),
        toks.alias("_toks"),
    )
    if known_words is not None:
        # r6 (guide §2.3: shuffle fewer bytes): only ERROR tokens reach the
        # per-page aggregation — an anti-join against the vocabulary drops
        # every known token before the exchange, so the groupBy shuffles
        # the (usually tiny) miss set instead of one row per token.  The
        # join strategy still belongs to AQE; n_errs values are unchanged.
        vocab = known_words.select(F.col("word").alias("tok")).distinct()
        errs = (
            pages.select(
                "doc_id", "media_ref", F.explode("_toks").alias("tok")
            )
            .join(vocab, "tok", "left_anti")
            .groupBy("doc_id", "media_ref")
            .agg(F.count("*").cast("long").alias("n_errs_raw"))
        )
    else:
        errs = (
            pages.select(
                "doc_id", "media_ref", F.explode("_toks").alias("tok")
            )
            .where(~F.col("tok").rlike(r"^[^\W\d_]+$"))
            .groupBy("doc_id", "media_ref")
            .agg(F.count("*").cast("long").alias("n_errs_raw"))
        )
    joined = pages.drop("_toks").join(errs, ["doc_id", "media_ref"], "left")
    n_errs_raw = F.coalesce(F.col("n_errs_raw"), F.lit(0).cast("long"))
    return joined.select(
        "doc_id", "media_ref", F.col("n_words"),
        F.least(n_errs_raw, F.col("n_words")).alias("n_errs"),
        quality_ratio(F.col("n_words"), n_errs_raw).alias("quality_ratio"),
    )


def estimation_bins(scores: DataFrame) -> DataFrame:
    """A5: 5 bins of width 15 over ``score``, the last clamping every
    higher score; one row per bin."""
    binned = scores.select(
        F.least(F.floor(F.col("score") / 15).cast("int"), F.lit(4)).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").cast("long").alias("n"))
