"""Skew salting for oversized documents (scale rule §7).

The narrow per-document plan bounds an oversized "book" (the reference
warns its monitoring dies at 500+ pages) to single-row cost — but that row
still pins one task for its whole duration.  For stages that are per-span /
per-page associative, ``salt_oversized`` splits a giant document's span
array into page-aligned chunk rows, so the book spreads across the
cluster; ``unsalt`` reassembles the ordered span sequence per true doc_id
afterwards (the only stage allowed to see the whole document again).

Chunks split on page boundaries (media spans), never mid-page, so
page-scoped semantics (de-hyphenation chains, per-page stats) remain exact
under salting — proven by the salted-vs-unsalted equality test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def sorted_spans(spans: Column) -> Column:
    """Order a span array by its offset column (input order contract)."""
    return F.array_sort(
        spans,
        lambda left, right: F.when(left["offset"] < right["offset"], -1)
        .when(left["offset"] > right["offset"], 1)
        .otherwise(0),
    )


def salt_oversized(docs: DataFrame, max_spans: int = 512) -> DataFrame:
    """(doc_id, spans) -> (doc_id, salt, spans) with oversized docs split
    into page-aligned chunks of <= ~max_spans spans (small docs: salt 0)."""
    spans = sorted_spans(F.col("spans"))
    # page index per span: running count of media spans
    with_page = F.aggregate(
        spans,
        F.struct(
            F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,"
                "offset:int,page:int>>"
            ).alias("out"),
            F.lit(-1).alias("page"),
        ),
        lambda acc, s: F.struct(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        s["kind"].alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].alias("offset"),
                        F.when(s["kind"] == "media", acc["page"] + 1)
                        .otherwise(F.greatest(acc["page"], F.lit(0)))
                        .cast("int")
                        .alias("page"),
                    )
                ),
            ).alias("out"),
            F.when(s["kind"] == "media", acc["page"] + 1)
            .otherwise(acc["page"])
            .alias("page"),
        ),
        lambda acc: acc["out"],
    )
    n = F.size(F.col("spans"))
    # pages per chunk so a chunk holds roughly max_spans spans
    n_pages = F.greatest(
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")), F.lit(1)
    )
    spans_per_page = F.greatest((n / n_pages).cast("int"), F.lit(1))
    pages_per_chunk = F.greatest(
        (F.lit(max_spans) / spans_per_page).cast("int"), F.lit(1)
    )
    salted = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest((n_pages / pages_per_chunk).cast("int") - 0, F.lit(0)),
                ),
                lambda chunk: F.struct(
                    chunk.cast("int").alias("salt"),
                    F.transform(
                        F.filter(
                            with_page,
                            lambda s: (s["page"] / pages_per_chunk).cast("int")
                            == chunk,
                        ),
                        lambda s: F.struct(
                            s["kind"].alias("kind"),
                            s["text"].alias("text"),
                            s["media_ref"].alias("media_ref"),
                            s["offset"].alias("offset"),
                        ),
                    ).alias("spans"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.salt", "c.spans")
    return salted.where(F.size("spans") > 0).repartition("doc_id", "salt")


#: separator for chunk-keyed doc ids (unit separator — cannot occur in ids)
_SALT_SEP = chr(31)


def extract_salted(
    docs: DataFrame, max_spans: int = 512, dehyphenate: bool = False
) -> DataFrame:
    """Skew-proof extraction for corpora with oversized books: salt into
    page-aligned chunks, run the narrow extract per chunk (bounded fold
    cost), de-salt into ordered documents.  Byte-identical to plain
    ``extract`` (see test_salting.py); costs one extra shuffle (the
    regroup), so use it when document sizes are unbounded."""
    from ..plans.pipeline import extract

    salted = salt_oversized(docs, max_spans=max_spans)
    keyed = salted.select(
        F.concat("doc_id", F.lit(_SALT_SEP), F.col("salt").cast("string")).alias(
            "doc_id"
        ),
        "spans",
    )
    out = extract(keyed, dehyphenate=dehyphenate)
    resplit = out.select(
        F.substring_index("doc_id", _SALT_SEP, 1).alias("doc_id"),
        F.substring_index("doc_id", _SALT_SEP, -1).cast("int").alias("salt"),
        "spans",
    )
    return unsalt(resplit)


def unsalt(salted: DataFrame) -> DataFrame:
    """Reassemble (doc_id, salt, spans) chunks into ordered documents with
    dense offsets — the de-salt regroup before sequence assembly."""
    flat = salted.select(
        "doc_id", "salt", F.posexplode("spans").alias("pos", "s")
    )
    regrouped = flat.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("salt", "pos", "s")),
            lambda a, b: F.when(a["salt"] < b["salt"], -1)
            .when(a["salt"] > b["salt"], 1)
            .when(a["pos"] < b["pos"], -1)
            .when(a["pos"] > b["pos"], 1)
            .otherwise(0),
        ).alias("ordered")
    )
    spans = F.transform(
        F.col("ordered"),
        lambda x, i: F.struct(
            x["s"]["kind"].alias("kind"),
            x["s"]["text"].alias("text"),
            x["s"]["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return regrouped.select("doc_id", spans.alias("spans"))
