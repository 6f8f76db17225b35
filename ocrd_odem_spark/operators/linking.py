"""Linking joins (reference J1-J5) as broadcast-hash DataFrame joins.

The reference realises all of these as nested Python loops over lxml node
lists (O(n*m)); here each is a Catalyst equi-join over the page/document
dimension tables, broadcast because the dimensions are per-doc-small:

* J2 missing-link detection (``mets.py:299-318`` raises "Page not linked")
  becomes an error-channel left join.
* J3 OCR-file <-> image linking by basename containment with
  first-match-wins (``mets.py:334-414``) becomes a contains-join +
  ``row_number() == 1``.
* J5 candidate/result loss sets (``odem_process_impl.py:374-380``) become a
  full-outer join null-side filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pages_with_log_types(page_meta: DataFrame) -> DataFrame:
    """J1+J2: physical page rows joined to their logical types; pages with
    no linked logical struct become error rows instead of exceptions."""
    return page_meta.select(
        "doc_id",
        "media_ref",
        "phys_id",
        "label",
        "log_types",
        F.when(
            F.col("log_types").isNull() | (F.size("log_types") == 0),
            F.concat(F.lit("Page "), F.col("phys_id"), F.lit(" not linked")),
        ).alias("link_error"),
    )


def link_ocr_to_media(ocr_files: DataFrame, media: DataFrame) -> DataFrame:
    """J3: link OCR results to media by stem containment, first match wins.

    ``ocr_files``: (doc_id, ocr_stem); ``media``: (doc_id, media_ref,
    href).  A stem links to the first (by media_ref order) href containing
    it — reproducing the reference's first-match-wins loop
    (``/root/reference/lib/odem/processing/mets.py:334-414``).

    The join is keyed on ``doc_id`` (equi-join; the containment is a
    post-filter), so the media table — which grows WITH the corpus — is
    never force-broadcast: AQE broadcasts small inputs on its own and
    shuffle-joins big ones.
    """
    joined = ocr_files.join(media, "doc_id").where(
        F.col("href").contains(F.col("ocr_stem"))
    )
    w = Window.partitionBy("doc_id", "ocr_stem").orderBy("media_ref")
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "ocr_stem", "media_ref", "href")
    )


def loss_set(candidates: DataFrame, results: DataFrame) -> DataFrame:
    """J5: symmetric difference of candidate vs result stems per doc.

    Alias-qualified join so both inputs may share lineage (e.g. filtered
    views of the same page frame) without tripping Spark's ambiguous
    self-join check.
    """
    c = (
        candidates.select("doc_id", F.col("stem").alias("c_stem"))
        .distinct()
        .alias("_loss_c")
    )
    r = (
        results.select(
            F.col("doc_id").alias("r_doc_id"), F.col("stem").alias("r_stem")
        )
        .distinct()
        .alias("_loss_r")
    )
    return (
        c.join(
            r,
            (F.col("_loss_c.doc_id") == F.col("_loss_r.r_doc_id"))
            & (F.col("_loss_c.c_stem") == F.col("_loss_r.r_stem")),
            "full_outer",
        )
        .where(F.col("c_stem").isNull() | F.col("r_stem").isNull())
        .select(
            F.coalesce(F.col("_loss_c.doc_id"), F.col("_loss_r.r_doc_id")).alias(
                "doc_id"
            ),
            F.coalesce(F.col("c_stem"), F.col("r_stem")).alias("stem"),
            F.when(F.col("r_stem").isNull(), F.lit("no_result"))
            .otherwise(F.lit("no_candidate"))
            .alias("side"),
        )
    )


def latest_agent(agents: DataFrame) -> DataFrame:
    """O5: newest agent entry per document.

    The reference sorts METS agent notes by date and reads the LATEST
    Derivans entry (``mets.py:483-489``); here that is one window pass —
    ties on timestamp break deterministically by agent name."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("ts"), F.desc("agent"))
    return (
        agents.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "agent", "ts")
    )


def resolve_identifier(doc_meta: DataFrame) -> DataFrame:
    """T11: record identifier resolution — gvk-ppn preferred, then urn,
    then any; ':' replaced by '+' (reference ``mets.py:131-165``)."""
    ids = F.col("identifiers")
    chosen = F.coalesce(
        ids["gvk-ppn"], ids["urn"], F.map_values(ids).getItem(0)
    )
    return doc_meta.select(
        "doc_id", F.translate(chosen, ":", "+").alias("record_identifier")
    )


def language_model_config(doc_meta: DataFrame, model_map: dict[str, str]) -> DataFrame:
    """J4: language list -> OCR model chain via broadcast map lookup,
    '+'-composed in language order (reference ``odem_process_impl.py:173-254``).

    Unmapped languages are an ERROR CHANNEL, not a silent fallback: the
    reference raises ``ODEMModelMissingException`` for a language without a
    model (``odem_process_impl.py:193``), so rows with unknown languages get
    a ``model_error`` listing them (J2 pattern) for the caller to route to
    the fail path.  ``model_config`` still falls back to ``gt4hist`` for
    an unmapped language, so the config column stays usable, but the error
    column makes the divergence visible.
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in model_map.items() for x in kv]
    )
    unmapped = F.filter(F.col("languages"), lambda lang: mapping[lang].isNull())
    models = F.transform(
        F.col("languages"), lambda lang: F.coalesce(mapping[lang], F.lit("gt4hist"))
    )
    return doc_meta.select(
        "doc_id",
        "languages",
        F.array_join(F.array_distinct(models), "+").alias("model_config"),
        F.when(
            F.size(unmapped) > 0,
            F.concat(F.lit("no model for: "), F.array_join(unmapped, ",")),
        ).alias("model_error"),
    )
