"""ALTO / PAGE XML shredding into text-line spans (S5, O2, O3).

Reimplements the reference's OCR-format line extraction
(``lib/odem/ocr/ocr_model.py``) over byte payloads inside an Arrow-batched
``mapInPandas`` stage, one Python call per batch rather than per row:

* namespace sniffing across ALTO v3/v4 and PAGE 2013/2019
  (``ocr_model.py:16-20,175-177``),
* ALTO lines: ``String/@CONTENT`` joined by ' ', kept when the joined
  content length reaches ``min_len`` (``ocr_model.py:216-222``),
* PAGE lines: word reading order by polygon x-center (y-center when
  vertical) (``ocr_model.py:143-145,180-199``), directional-mark strip
  (``ocr_model.py:23-29,153-157``), invalid word coords are an error,
  invalid line coords skip the line (``ocr_model.py:125-141``),
* line-level ``TextEquiv`` emptiness with words present is an error
  (``ocr_model.py:236-243``),
* RTL reorder folds tokens right-to-left (``ocr_model.py:60-69``).

Errors are a data channel (``error`` column), not task failures — one bad
page must not kill a 100 TB job (reference README: per-page failure loses
only that page).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator
from functools import reduce

from .constants import CLEAR_MARKS

XML_NS = {
    "alto3": "http://www.loc.gov/standards/alto/ns-v3#",
    "alto4": "http://www.loc.gov/standards/alto/ns-v4#",
    "page2013": "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15",
    "page2019": "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15",
}
_NS_BY_URI = {v: k for k, v in XML_NS.items()}

PARSED_SCHEMA = (
    "doc_id string, media_ref string, line_id string, text string, "
    "line_order int, dialect string, error string"
)


class OcrParseError(Exception):
    """Recoverable per-file parse problem (becomes an error row)."""


def _local(tag: str) -> tuple[str, str]:
    if tag.startswith("{"):
        uri, local = tag[1:].split("}", 1)
        return uri, local
    return "", tag


def sniff_dialect(root: ET.Element) -> str:
    uri, _ = _local(root.tag)
    dialect = _NS_BY_URI.get(uri)
    if dialect is None:
        raise OcrParseError(f"unknown OCR namespace: {uri!r}")
    return dialect


def _center(points: str, vertical: bool) -> float | None:
    """Mean x (or y) of a PAGE Coords@points polygon."""
    try:
        pairs = [p.split(",") for p in points.split()]
        xs = [float(p[0]) for p in pairs]
        ys = [float(p[1]) for p in pairs]
    except (ValueError, IndexError):
        return None
    if not pairs:
        return None
    return (sum(ys) / len(ys)) if vertical else (sum(xs) / len(xs))


def _strip_marks(token: str) -> str:
    for mark in CLEAR_MARKS:
        if mark in token:
            token = token.replace(mark, "")
    return token


def parse_alto_lines(root: ET.Element, ns_uri: str, min_len: int) -> list[tuple[str, str]]:
    q = f"{{{ns_uri}}}"
    out = []
    for line in root.iter(f"{q}TextLine"):
        words = [s.get("CONTENT", "") for s in line.findall(f"{q}String")]
        joined = " ".join(words)
        if len(joined) >= min_len:
            out.append((line.get("ID", ""), joined))
    return out


def parse_page_lines(
    root: ET.Element, ns_uri: str, min_len: int, reorder: bool, vertical: bool = False
) -> list[tuple[str, str]]:
    q = f"{{{ns_uri}}}"
    candidates = []
    for line in root.iter(f"{q}TextLine"):
        uni = line.find(f"{q}TextEquiv/{q}Unicode")
        if uni is not None and uni.text:
            stripped = uni.text.strip()
            if stripped and len(stripped) >= min_len:
                candidates.append(line)
        else:
            words = line.findall(f"{q}Word/{q}TextEquiv/{q}Unicode")
            if words:
                raise OcrParseError(
                    f"just words for line '{line.get('id', '?')}'"
                )
    out = []
    for line in candidates:
        word_els = line.findall(f"{q}Word")
        keyed = []
        if word_els:
            for w in word_els:
                coords = w.find(f"{q}Coords")
                center = (
                    _center(coords.get("points", ""), vertical)
                    if coords is not None
                    else None
                )
                if center is None:
                    raise OcrParseError(
                        f"Invalid Coords of Word '{w.get('id', '?')}' "
                        f"in '{line.get('id', '?')}'!"
                    )
                keyed.append((center, w))
        else:
            coords = line.find(f"{q}Coords")
            center = (
                _center(coords.get("points", ""), vertical)
                if coords is not None
                else None
            )
            if center is None:
                continue  # invalid line coords: skip line, keep file
            keyed.append((center, line))
        keyed.sort(key=lambda kv: int(kv[0]))
        tokens = []
        for _, el in keyed:
            uni = el.find(f".//{q}Unicode")
            if uni is not None and uni.text:
                tokens.append(_strip_marks(uni.text.strip()))
        if reorder:
            text = reduce(lambda acc, tok: tok + " " + acc, tokens) if tokens else ""
        else:
            text = " ".join(tokens)
        out.append((line.get("id", ""), text))
    return out


def parse_ocr_payload(
    payload: bytes | str, min_len: int = 2, reorder: bool = False
) -> tuple[str, list[tuple[str, str]]]:
    """(dialect, [(line_id, text), ...]) of one ALTO/PAGE document."""
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    try:
        root = ET.fromstring(payload)
    except ET.ParseError as exc:
        raise OcrParseError(f"malformed XML: {exc}") from exc
    dialect = sniff_dialect(root)
    ns_uri = XML_NS[dialect]
    if dialect.startswith("alto"):
        return dialect, parse_alto_lines(root, ns_uri, min_len)
    return dialect, parse_page_lines(root, ns_uri, min_len, reorder)


def shred_xml(df, min_len: int = 2, reorder_col: str | None = None):
    """Spark stage: (doc_id, media_ref, xml[, reorder]) -> parsed line rows.

    Arrow-batched ``mapInPandas``; one output row per extracted line, or a
    single error row per failed file (error channel, no task failure).
    """
    import pandas as pd

    use_reorder = reorder_col is not None

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                doc_id = rec.doc_id
                media_ref = rec.media_ref
                reorder = bool(getattr(rec, reorder_col)) if use_reorder else False
                try:
                    dialect, lines = parse_ocr_payload(
                        rec.xml, min_len=min_len, reorder=reorder
                    )
                    for order, (line_id, text) in enumerate(lines):
                        rows.append(
                            (doc_id, media_ref, line_id, text, order, dialect, None)
                        )
                except OcrParseError as exc:
                    rows.append((doc_id, media_ref, None, None, None, None, str(exc)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_ref", "line_id", "text",
                    "line_order", "dialect", "error",
                ],
            )

    return df.mapInPandas(run, schema=PARSED_SCHEMA)


def parsed_to_spans(parsed):
    """Regroup parsed line rows into the nested (doc_id, spans) contract:
    per page one media span followed by its lines in reading order."""
    from pyspark.sql import functions as F

    from .plans.pipeline import from_flat

    good = parsed.where(F.col("error").isNull())
    lines = good.select(
        "doc_id",
        F.lit("text").alias("kind"),
        "text",
        "media_ref",
        "line_order",
    )
    media = good.select("doc_id", "media_ref").distinct().select(
        "doc_id",
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        "media_ref",
        F.lit(-1).alias("line_order"),
    )
    union = lines.unionByName(media)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("media_ref", "line_order")
    flat = union.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("int")
    ).select("doc_id", "kind", "text", "media_ref", "offset")
    return from_flat(flat)
