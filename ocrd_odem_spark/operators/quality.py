"""Quality/estimation path operators (reference T5, A3, A4, A5).

Reproduces the reference's ``textlines2data`` dataset construction
(``lib/odem/ocr/ocr_pipeline.py:402-422``): per page, drop empty lines,
de-hyphenate wraps, scrub characters (``_sanitize_chars``,
``ocr_pipeline.py:450-467``), then split into dense (len > minlen) and
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

from ..constants import BAD_CHARS_SANITIZE, LONG_S

_WS_TOKENS = lambda s: F.filter(F.split(F.trim(s), r"\s+"), lambda x: x != "")  # noqa: E731


def sanitize_line(line: Column) -> Column:
    """T5: strip digits/quotes/brackets, collapse '..' and double spaces,
    long-s -> s, drop 1-char tokens."""
    text = F.translate(F.trim(line), BAD_CHARS_SANITIZE, "")
    text = F.replace(text, F.lit(".."), F.lit(""))
    text = F.replace(text, F.lit("  "), F.lit(" "))
    text = F.replace(text, F.lit(LONG_S), F.lit("s"))
    toks = F.filter(_WS_TOKENS(text), lambda t: F.length(t) > 1)
    return F.array_join(toks, " ")


def page_text_stats_flat(flat: DataFrame, minlen: int = 2) -> DataFrame:
    """``page_text_stats`` over FLAT text spans
    ``(doc_id, media_ref, offset, text)``.

    The per-page pipeline (order lines, wrap-merge fold, char scrub,
    densify) runs as ``oracle.textlines_to_data`` — the pinned ground-truth
    loop — inside one ``mapInPandas`` stage after a single codegen
    ``collect_list`` regroup.  Flat input also lets callers that already
    hold flat spans (q34/q42) skip the nest-then-explode round trip,
    halving the exchanges.
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
                st = textlines_to_data(lines, minlen)
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


def page_text_stats(docs: DataFrame, minlen: int = 2) -> DataFrame:
    """A3/A4 dataset: one row per page with the reference's
    ``(file_string, n_lines, n_normalized, n_sparse, n_dense)`` tuple.

    Input: nested (doc_id, spans), exploded to its text spans and run
    through ``page_text_stats_flat``.  One shuffle (page regroup);
    everything else is narrow per-page work.
    """
    return page_text_stats_flat(
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "text")
        .select("doc_id", "s.media_ref", "s.offset", "s.text"),
        minlen,
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
    page_stats: DataFrame,
    known_words: DataFrame | None = None,
    broadcast_vocab: bool = False,
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
    query builds it from 10% of all documents), so it is NOT broadcast by
    default: the tok-join is left to Catalyst/AQE, which broadcasts small
    vocabularies on its own (spark.sql.autoBroadcastJoinThreshold) and
    shuffle-joins big ones instead of OOM-ing the driver.  Pass
    ``broadcast_vocab=True`` only when the caller KNOWS the vocabulary is a
    bounded dimension (e.g. a fixed dictionary).
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
        # join strategy still belongs to AQE (no forced broadcast unless
        # the caller opts in); n_errs values are unchanged.
        vocab = known_words.select(F.col("word").alias("tok")).distinct()
        if broadcast_vocab:
            vocab = F.broadcast(vocab)
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


def estimation_bins(scores: DataFrame, score_col: str = "score",
                    bins: int = 5, step: int = 15) -> DataFrame:
    """A5: fixed-width binning with last-bin clamp; one row per bin."""
    binned = scores.select(
        F.least(
            F.floor(F.col(score_col) / step).cast("int"), F.lit(bins - 1)
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").cast("long").alias("n"))
