"""The end-to-end extraction plan (reference lifecycle §3.4 of SURVEY.md).

Design: the whole extract path is NARROW per-document work over the nested
``spans`` array — sort, token post-process, empty-line drop, optional
de-hyphenation, re-offset — run as one columnar ``mapInArrow`` stage that
executes the oracle's line functions (``extract``).  The only wide
operations are broadcast joins against the (small) document relevance and
page-blacklist dimensions.  At 100 TB this means: zero shuffles of the
fact table, linear scaling with input splits (an input smaller than one
split reaches the Python stage as one task per core, see
``extract``), and skew from oversized "book" documents bounded by
single-row cost rather than hot shuffle keys.

Stage order reproduces the reference (``ocr_files.py:62-91``): blacklist
filters precede token ops; the trailing-punct split precedes the min-length
drop; de-hyphenation (quality path) runs on the post-processed lines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..constants import (
    BLACKLIST_LABELS,
    BLACKLIST_LOG_TYPES,
    RELEVANT_METS_TYPES,
    RELEVANT_PICA_CHARS,
    RTL_LANGUAGES,
)

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
EXTRACT_STEPS = (("postprocess", {}),)


def _span(kind: Column, text: Column, media_ref: Column, offset: Column) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


def extract(
    docs: DataFrame,
    page_meta: DataFrame | None = None,
    doc_meta: DataFrame | None = None,
    dehyphenate: bool = False,
    with_metrics: bool = False,
    steps=EXTRACT_STEPS,
    mode: str = "arrow",
) -> DataFrame:
    """Full extraction plan: (doc_id, spans) -> (doc_id, spans[, metrics]).

    One columnar ``mapInArrow`` stage runs the oracle's line functions
    over each batch's flat columnar buffers; per doc the output equals
    ``oracle.extract_document`` (``extract_document_dehyphenated`` with
    ``dehyphenate``) over the spans that survive the metadata filters
    below.

    * ``page_meta``: optional page dimension with ``label`` / ``log_types``;
      blacklisted pages (Colorchecker/Leerseite labels, cover_* log types)
      are aggregated per doc and BROADCAST-joined — the fact table never
      shuffles — and every span of such a page is dropped.  A span with a
      null ``media_ref`` is never dropped.
    * ``doc_meta``: optional doc dimension; docs failing the METS-type /
      PICA relevance filter (F1) are dropped (broadcast inner join); each
      text line of an RTL-language doc (``RTL_LANGUAGES``) has its
      directional marks stripped and is folded right-to-left before
      post-processing.
    * ``dehyphenate``: run the per-page wrap-merge (quality path T4) on the
      lines the steps leave; it needs a ``postprocess`` step.
    * ``steps``: the per-line step chain, ``(name, params)`` pairs as
      ``config.load_steps_ini`` returns them (``config.line_chain``), run
      on each text line after the RTL fold and before de-hyphenation.  The
      default is the extract's own token post-processing.  Only a
      ``postprocess`` step drops lines, so a chain without one keeps every
      text span, null texts included.
    * ``with_metrics``: add per-doc ``n_pages``, ``n_lines_in`` (input text
      spans, counted before the blacklist drop), ``n_lines_out``,
      ``n_tokens_out`` and ``n_dehyphenated``.

    ``mode`` has one legal value, ``"arrow"``; any other raises
    ``ValueError``.  It stays only because the benchmark workloads still
    pass ``mode="arrow"``: removing the keyword would make those calls
    raise ``TypeError``.

    Why Arrow and not Catalyst expressions: Spark's higher-order array
    functions are CodegenFallback (interpreted, per-element object churn),
    while this path moves each Arrow batch into Python once and runs plain
    tight loops.  It is still narrow (no shuffle of the fact table), and
    the payload crosses the Arrow boundary exactly twice.

    Metadata reaches the stage as per-doc columns of broadcast joins: the
    relevance filter is an inner join on ``doc_id`` that also carries the
    RTL flag, the page blacklist a left join carrying the doc's
    blacklisted ``media_ref`` list.  Without metadata the stage does no
    per-batch work for either.

    Python tasks are sized by input bytes when the whole input fits in one
    scan split (``spark.sql.files.maxPartitionBytes``) and is read straight
    from its source (only filters and projections above the relation): such
    an input is coalesced to ``defaultParallelism`` tasks, before the
    joins, whose streamed side keeps its partitions.  A file scan
    charges every file ``openCostInBytes`` (4 MB by default) on top of its
    bytes, so a table of many small files reaches the Python stage as many
    tiny splits; 1000 one-document files give 32 tasks on 4 cores with the
    default settings.  Every Python task costs about 47 ms of worker time
    (the daemon's per-task ``gc.collect()``) plus about 28 ms of JVM CPU on
    4 vCPUs, whatever it carries.  ``coalesce`` merges adjacent partitions
    without looking at their bytes, so the size guard keeps a merged task
    within one split.  Larger inputs, inputs of unknown size and inputs
    whose partitions come from a repartition (``repartition_for_scale``),
    join, union or aggregate keep their partitions.

    The batch function: ``mapInArrow`` hands over the list<struct> column
    directly; the per-doc offset sort is ONE stable ``np.lexsort`` per
    batch, and only the text lines enter Python, as plain ``str`` through
    Arrow's C++ conversion (``to_numpy(zero_copy_only=False).tolist()``;
    ``to_pylist()`` builds a pyarrow scalar per element first and cost ~7x
    as much).  One flat loop per batch runs the step chain
    (``config.line_chain(steps)``) on every line.  Pages are found with
    numpy (a run of kept lines of one doc and one ``media_ref`` with no
    media span between), and
    ``dehyphenate_lines`` runs only on pages with a ``-``-terminated line
    before their last line, the only lines it acts on.  Everything else in
    the output list<struct> — media spans, ``kind``, ``media_ref``, dense
    offsets and list offsets — is Arrow ``take``/compute and numpy over the
    list offsets, with no per-span Python, and so are the ``with_metrics``
    counts; the merge count comes from the page loop.  On one 250-doc,
    22k-span batch of ``gen.make_corpus`` the function takes ~60-75 ms on
    4 vCPUs, about 45 ms of which is ``postprocess_line_tokens`` itself.
    """
    if mode != "arrow":
        raise ValueError(f"unknown mode {mode!r}: only 'arrow' is supported")

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..oracle import dehyphenate_lines, fold_rtl, strip_marks
    from .config import line_chain

    step = line_chain(steps)
    drops = any(name == "postprocess" for name, _ in steps)
    if dehyphenate and not drops:
        raise ValueError("dehyphenate runs on post-processed lines: "
                         "steps need a postprocess step")

    # flags for the batch function, which must not capture a DataFrame
    has_rtl, has_blacklist = doc_meta is not None, page_meta is not None
    inp = _python_sized(docs.select("doc_id", "spans"))
    if has_rtl:
        langs = F.array(*map(F.lit, RTL_LANGUAGES))
        rtl = F.size(F.array_intersect("languages", langs)) > 0
        relevant = relevance_filter(doc_meta).select("doc_id", rtl.alias("_rtl"))
        inp = inp.join(F.broadcast(relevant), "doc_id")
    if has_blacklist:
        inp = inp.join(F.broadcast(blacklisted_pages(page_meta)), "doc_id", "left")

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            spans_col = batch.column("spans")
            lengths = pc.list_value_length(spans_col)
            lengths = (
                lengths.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            flat = spans_col.flatten()
            offs = flat.field("offset").to_numpy(zero_copy_only=False)
            # nondecreasing, so it also holds in the sorted order below
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lengths)
            # one stable sort for the whole batch == per-doc sorted(key=offset)
            perm = np.lexsort((offs, doc_idx))
            texts = flat.field("text")
            refs = flat.field("media_ref")
            is_media = pc.equal(flat.field("kind"), "media").fill_null(False)
            is_media = is_media.to_numpy(zero_copy_only=False)[perm]
            if with_metrics:
                n_lines_in = lengths - np.bincount(doc_idx[is_media], minlength=n)
            if has_blacklist:
                # drop each span whose media_ref is in its doc's blacklist:
                # one dictionary over both, keyed (doc, ref); a null ref
                # gets code 0, which no blacklist entry has (collect_list
                # skips nulls), so it is never dropped
                black = batch.column("_blacklisted_refs")
                codes = pa.concat_arrays([refs, black.flatten()])
                codes = codes.dictionary_encode().indices.fill_null(-1)
                codes = codes.to_numpy().astype(np.int64) + 1
                width = int(codes.max(initial=0)) + 1
                black_doc = pc.list_parent_indices(black).to_numpy()
                dropped = np.isin(
                    doc_idx * width + codes[: len(refs)],
                    black_doc * width + codes[len(refs):],
                )
                stays = ~dropped[perm]
                perm, doc_idx, is_media = perm[stays], doc_idx[stays], is_media[stays]
            line_pos = np.flatnonzero(~is_media)
            # to_numpy().tolist() converts in C++; to_pylist() builds one
            # pyarrow scalar per element first (~7x slower here)
            lines = texts.take(perm[line_pos]).to_numpy(zero_copy_only=False)
            lines = lines.tolist()
            if has_rtl:
                rtl_doc = batch.column("_rtl").fill_null(False)
                rtl_doc = rtl_doc.to_numpy(zero_copy_only=False)
                for i in np.flatnonzero(rtl_doc[doc_idx[line_pos]]).tolist():
                    lines[i] = fold_rtl(strip_marks(lines[i] or "").split(" "))
            done = list(map(step, lines))
            out_lines = pa.array(done, pa.string())
            if drops:
                valid = out_lines.is_valid().to_numpy(zero_copy_only=False)
                line_pos, out_lines = line_pos[valid], out_lines.drop_null()
            merges = np.zeros(n, dtype=np.int64)
            if dehyphenate:
                # a page is a run of kept lines of one doc and one media_ref
                # (null equals null, as in the oracle) with no media between
                a, b = line_pos[:-1], line_pos[1:]
                ref_key = refs.take(perm[line_pos]).dictionary_encode().indices
                ref_key = ref_key.fill_null(-1).to_numpy()
                media_seen = np.cumsum(is_media)
                same_page = (
                    (doc_idx[a] == doc_idx[b])
                    & (media_seen[a] == media_seen[b])
                    & (ref_key[:-1] == ref_key[1:])
                )
                # dehyphenate_lines only acts on a '-' line with a successor
                # on its page; every other page passes through unchanged
                hyph = pc.ends_with(out_lines, "-").to_numpy(zero_copy_only=False)
                page_start = np.concatenate(([True], ~same_page))
                page_id = np.cumsum(page_start) - 1
                pages = np.unique(page_id[np.flatnonzero(hyph[:-1] & same_page)])
                if len(pages):
                    starts = np.flatnonzero(page_start)
                    ends = np.append(starts[1:], len(line_pos))
                    kept = [t for t in done if t is not None]
                    for lo, hi in zip(starts[pages].tolist(), ends[pages].tolist()):
                        merged, n_merged = dehyphenate_lines(kept[lo:hi])
                        # only a replace step after postprocess can blank a
                        # line, and so drop the '-' line before it (as the
                        # oracle does); then the page's last slot goes (all
                        # its slots share doc and media_ref)
                        merged += [None] * (hi - lo - len(merged))
                        kept[lo:hi] = merged
                        merges[doc_idx[line_pos[lo]]] += n_merged
                    out_lines = pa.array(kept, pa.string())
                    if out_lines.null_count:
                        line_pos = line_pos[
                            out_lines.is_valid().to_numpy(zero_copy_only=False)
                        ]
                        out_lines = out_lines.drop_null()
            keep = is_media.copy()
            keep[line_pos] = True
            out_pos = np.flatnonzero(keep)
            src = pa.array(perm[out_pos])
            out_media = is_media[out_pos]
            out_doc = doc_idx[out_pos]
            counts = np.bincount(out_doc, minlength=n)
            # int64 here; pa.array(..., pa.int32()) below raises rather
            # than wraps should one batch ever exceed 2**31 output spans
            list_off = np.concatenate(([0], np.cumsum(counts)))
            media_mask = pa.array(out_media)
            struct = pa.StructArray.from_arrays(
                [
                    pc.if_else(media_mask, "media", "text"),
                    pc.replace_with_mask(
                        texts.take(src), pc.invert(media_mask), out_lines
                    ),
                    refs.take(src),
                    pa.array(
                        np.arange(len(out_pos)) - np.repeat(list_off[:-1], counts),
                        pa.int32(),
                    ),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            spans_out = pa.ListArray.from_arrays(
                pa.array(list_off, pa.int32()), struct
            )
            cols = [batch.column("doc_id"), spans_out]
            names = ["doc_id", "spans"]
            if with_metrics:
                n_pages = np.bincount(out_doc[out_media], minlength=n)
                n_lines_out = counts - n_pages
                # split(' ') semantics: n_tokens = count(' ') + 1 per line
                # a null line (kept only without postprocess) has none
                tokens = pc.count_substring(out_lines, " ").fill_null(-1)
                tokens = tokens.to_numpy() + 1
                token_sum = np.concatenate(([0], np.cumsum(tokens)))
                line_off = np.concatenate(([0], np.cumsum(n_lines_out)))
                cols += [
                    pa.array(m, pa.int64())
                    for m in (
                        n_pages,
                        n_lines_in,
                        n_lines_out,
                        token_sum[line_off[1:]] - token_sum[line_off[:-1]],
                        merges,
                    )
                ]
                names += [
                    "n_pages",
                    "n_lines_in",
                    "n_lines_out",
                    "n_tokens_out",
                    "n_dehyphenated",
                ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    span_t = (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    schema = f"doc_id string, spans {span_t}"
    if with_metrics:
        schema += (
            ", n_pages long, n_lines_in long, n_lines_out long, "
            "n_tokens_out long, n_dehyphenated long"
        )
    return inp.mapInArrow(run, schema=schema)


def _python_sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``defaultParallelism`` tasks when it is read
    straight from its source and its estimated size is at most one scan
    split; otherwise ``df`` itself (see ``extract``).  An unknown
    size is estimated at ``Long.MaxValue`` and so never coalesced."""
    jdf = df._jdf
    node = jdf.queryExecution().optimizedPlan()
    size = int(node.stats().sizeInBytes())
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().apply(0)
    split = jdf.sparkSession().sessionState().conf().filesMaxPartitionBytes()
    if size > split or not node.children().isEmpty():
        return df
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)


def relevance_filter(doc_meta: DataFrame) -> DataFrame:
    """F1: keep docs whose METS type and PICA 2nd char mark them relevant
    (reference ``mets.py:17-18,107-122``)."""
    return doc_meta.filter(
        F.col("mets_type").isin(*RELEVANT_METS_TYPES)
        & F.substring("pica_type", 2, 1).isin(*RELEVANT_PICA_CHARS)
    )


def page_blacklist_flag(type_tokens: tuple[str, ...] = BLACKLIST_LOG_TYPES) -> Column:
    """Boolean column: this page row hits the label or logical-type
    blacklist (substring on labels, exact membership on type lists —
    reference ``is_in``, ``mets.py:417-420``)."""
    label_hit = F.exists(
        F.array(*[F.lit(t) for t in BLACKLIST_LABELS]),
        lambda t: F.col("label").contains(t),
    )
    type_hit = F.arrays_overlap(
        F.col("log_types"), F.array(*[F.lit(t) for t in type_tokens])
    )
    return label_hit | type_hit


def blacklisted_pages(
    page_meta: DataFrame,
    type_tokens: tuple[str, ...] = BLACKLIST_LOG_TYPES,
    ref_col: str = "media_ref",
) -> DataFrame:
    """F3/F4: pages whose label or linked logical types hit a blacklist.

    Reference ``is_in`` (``mets.py:417-420``) is substring containment on
    the page LABEL but exact membership on the logical-type *list* —
    ``any(t in log_types)`` with a list operand (``mets.py:269-270``).

    ``ref_col``: which page key to collect — ``media_ref`` (image stem; the
    span fact table joins on it) or ``phys_id`` (always unique; IIIF-style
    hrefs can collapse every page to the same basename stem).
    """
    return (
        page_meta.filter(page_blacklist_flag(type_tokens))
        .groupBy("doc_id")
        .agg(F.collect_list(ref_col).alias("_blacklisted_refs"))
    )


def process_statistics(
    doc_meta: DataFrame,
    page_meta: DataFrame,
    media: DataFrame | None = None,
    candidates: DataFrame | None = None,
    results: DataFrame | None = None,
    timings: DataFrame | None = None,
) -> DataFrame:
    """Unified per-document statistics record (reference
    ``odem_process_impl.py:142-153``: languages, n_images_pages,
    n_images_ocrable, mb, mps as one INFO payload; ``:365-380``: n_ocr +
    the candidates-vs-results ``ocr_loss`` set; ``:675-676``: elapsed
    ``timedelta``).

    One aggregation over the page dimension + a broadcast join to the doc
    dimension; the optional ``media`` frame contributes MB/megapixel sums
    (A2).  All counts are per-doc-small, so the join side broadcasts.

    Optional channels, mirroring the reference record:

    * ``candidates`` + ``results`` (doc_id, stem): adds ``n_ocr`` (results
      per doc) and ``ocr_loss`` — the symmetric difference of stems (J5),
      sorted and comma-joined ('' when lossless).  The loss list is per-doc
      bounded (page count), like the reference's in-memory set.
    * ``timings`` (doc_id, started_at, finished_at timestamps): adds
      ``timedelta`` formatted H:MM:SS from whole seconds (the reference
      str()s a ``datetime.timedelta``; sub-day spans format identically).

    The blacklist/ocrable predicates are NULL-hardened: a page with NULL
    label or log_types counts deterministically (not-blacklisted /
    not-missing) instead of silently dropping out of the sums.
    """
    not_blacklisted = F.coalesce(~page_blacklist_flag(), F.lit(True))
    per_doc = page_meta.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_images_pages"),
        F.sum(
            (not_blacklisted & F.col("media_ref").isNotNull()).cast("long")
        ).alias("n_images_ocrable"),
        F.sum(
            (F.col("log_types").isNull() | (F.size("log_types") == 0)).cast("long")
        ).alias("n_links_missing"),
    )
    out = per_doc.join(
        F.broadcast(
            doc_meta.select("doc_id", F.array_join("languages", "+").alias("languages"))
        ),
        "doc_id",
        "left",
    )
    if media is not None:
        from ..functions.multimodal import media_stats

        out = out.join(
            F.broadcast(media_stats(media).select("doc_id", "mb", "mps")),
            "doc_id",
            "left",
        )
    if candidates is not None and results is not None:
        from ..operators.linking import loss_set

        n_ocr = results.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_ocr")
        )
        loss = (
            loss_set(candidates, results)
            .groupBy("doc_id")
            .agg(
                F.array_join(F.sort_array(F.collect_list("stem")), ",").alias(
                    "ocr_loss"
                )
            )
        )
        out = (
            out.join(n_ocr, "doc_id", "left")
            .join(loss, "doc_id", "left")
            .withColumn("n_ocr", F.coalesce("n_ocr", F.lit(0)))
            .withColumn("ocr_loss", F.coalesce("ocr_loss", F.lit("")))
        )
    if timings is not None:
        secs = (
            F.unix_timestamp("finished_at") - F.unix_timestamp("started_at")
        ).cast("long")
        td = F.concat(
            (secs / 3600).cast("long").cast("string"),
            F.lit(":"),
            F.lpad(((secs % 3600) / 60).cast("long").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((secs % 60).cast("string"), 2, "0"),
        )
        out = out.join(
            timings.select("doc_id", td.alias("timedelta")), "doc_id", "left"
        )
    return out


def to_flat(docs: DataFrame) -> DataFrame:
    """Explode to the flat per-span form for window/aggregate consumers."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def from_flat(flat: DataFrame, sort: bool = True) -> DataFrame:
    """Regroup flat spans into the nested contract shape (one shuffle).

    r6: the offset ordering now comes from a NATURAL ``array_sort`` over an
    offset-first struct (codegen-friendly field comparison) instead of the
    interpreted per-comparison lambda; same order wherever offsets are
    unique per document (the span contract).  ``sort=False`` skips the
    ordering for consumers that re-sort anyway (``extract`` sorts each
    document's spans by offset) — array order is then partition-dependent,
    so only use it when the next operator imposes its own order.
    """
    collected = F.collect_list(
        F.struct(
            F.col("offset").alias("offset"),
            F.col("kind").alias("kind"),
            F.col("text").alias("text"),
            F.col("media_ref").alias("media_ref"),
        )
    )
    arr = F.array_sort(collected) if sort else collected
    spans = F.transform(
        arr, lambda s: _span(s["kind"], s["text"], s["media_ref"], s["offset"])
    )
    return flat.groupBy("doc_id").agg(spans.alias("spans"))


def text_bundle(docs: DataFrame) -> DataFrame:
    """S7: one text blob per document — surviving lines joined by newline,
    plus the reference's ``n_text_lines`` statistic (A7)."""
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(text_spans, lambda s: s["text"]), "\n"
        ).alias("bundle"),
        F.size(text_spans).cast("long").alias("n_text_lines"),
    )


def repartition_for_scale(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Range-repartition on doc_id — co-locates doc ranges for watermark
    bookkeeping while spreading oversized docs across partitions."""
    return docs.repartitionByRange(num_partitions, "doc_id")
