"""Golden-fixture parity against the reference's REAL METS/MODS XML.

Exact counts from ``tests/test_odem_processing_mets.py``:

* Kitodo2 record 1981185920_33908: 21 physical pages, blacklist
  (cover_front, cover_back logical types; [Leerseite]/[Colorchecker]
  labels) keeps exactly 13; PHYS_0001/0002/0004/0017 excluded,
  PHYS_0003/0016 kept; digital object identifier resolves to the gvk-ppn
  '058134433' (``:221-250``).
* SBB PPN891267093 via fileGrp DEFAULT: 136 pairs after the default
  blacklist, 129 when logical type 'binding' is blacklisted too, PHYS_0001
  always excluded (``:253-295``).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from ocrd_odem_spark.metsparse import shred_mets
from ocrd_odem_spark.operators.linking import resolve_identifier
from ocrd_odem_spark.plans.pipeline import blacklisted_pages

RES = "/root/reference/tests/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference fixtures not available"
)


def _mets_df(spark, doc_id: str, name: str):
    with open(os.path.join(RES, name), encoding="utf-8") as fh:
        return spark.createDataFrame([Row(doc_id=doc_id, mets_xml=fh.read())])


def _surviving(page_meta, type_tokens=("cover_front", "cover_back")):
    """Pages that pass the blacklist filter (the reference's image_pairs)."""
    blacklisted = blacklisted_pages(
        page_meta, type_tokens=type_tokens, ref_col="phys_id"
    ).select(F.explode("_blacklisted_refs").alias("ref"))
    refs = {r["ref"] for r in blacklisted.collect()}
    return [
        r for r in page_meta.collect()
        if r["media_ref"] is not None and r["phys_id"] not in refs
    ]


def test_golden_kitodo2_filter_13_of_21(spark):
    doc_meta, page_meta = shred_mets(
        _mets_df(spark, "1981185920_33908", "1981185920_33908.xml")
    )
    rows = page_meta.collect()
    assert len(rows) == 21
    pairs = _surviving(page_meta)
    surviving_ids = {r["phys_id"] for r in pairs}
    assert len(pairs) == 13
    assert "PHYS_0001" not in surviving_ids
    assert "PHYS_0002" not in surviving_ids
    assert "PHYS_0003" in surviving_ids
    assert "PHYS_0004" not in surviving_ids
    assert "PHYS_0016" in surviving_ids
    assert "PHYS_0017" not in surviving_ids

    ident = resolve_identifier(doc_meta).collect()[0]["record_identifier"]
    assert ident == "058134433"
    langs = doc_meta.collect()[0]["languages"]
    assert langs == ["lat", "ger"]


def test_golden_sbb_default_group_136(spark):
    _, page_meta = shred_mets(
        _mets_df(spark, "PPN891267093", "sbb-PPN891267093.xml"),
        file_group="DEFAULT",
    )
    pairs = _surviving(page_meta)
    assert len(pairs) == 136
    assert all(r["phys_id"] != "PHYS_0001" for r in pairs)


def test_golden_sbb_custom_blacklist_129(spark):
    _, page_meta = shred_mets(
        _mets_df(spark, "PPN891267093", "sbb-PPN891267093.xml"),
        file_group="DEFAULT",
    )
    pairs = _surviving(
        page_meta, type_tokens=("cover_front", "cover_back", "binding")
    )
    assert len(pairs) == 129
    assert all(r["phys_id"] != "PHYS_0001" for r in pairs)


def test_mets_validation_channel(spark):
    """Structural-sanity analogue of the reference's validate_mets +
    inspection exceptions: violations are error strings, not task failures."""
    from ocrd_odem_spark.metsparse import parse_mets

    good = parse_mets(
        open(os.path.join(RES, "1981185920_33908.xml"), "rb").read()
    )
    assert good["doc"]["validation"] == []

    # minimal broken METS: no logical structMap, no images, no identifiers
    broken = b"""<mets:mets xmlns:mets="http://www.loc.gov/METS/">
      <mets:structMap TYPE="PHYSICAL">
        <mets:div TYPE="physSequence">
          <mets:div TYPE="page" ID="PHYS_0001"
                    LABEL="x"><mets:fptr FILEID="F1"/></mets:div>
        </mets:div>
      </mets:structMap>
    </mets:mets>"""
    v = parse_mets(broken)["doc"]["validation"]
    assert "found no logical type" in v
    assert "contains no images in fileGrp 'MAX'" in v
    assert "1x: pages not linked" in v
    assert "found no record identifier" in v

    # empty doc: no pages at all
    v2 = parse_mets(b"<mets:mets xmlns:mets='http://www.loc.gov/METS/'/>")["doc"][
        "validation"
    ]
    assert "contains no physical pages" in v2


def test_golden_integrate_ocr_linking_4_of_4(spark):
    """integrate_ocr_file golden (4 linked, 0 passed): every 42296 ALTO
    page links to exactly one MAX image by stem containment
    (``tests/test_odem_processing_mets.py:387-404``) — here as the J3
    first-match-wins join."""
    import glob
    import xml.etree.ElementTree as ET

    from pyspark.sql import Row

    from ocrd_odem_spark.operators.linking import link_ocr_to_media
    from ocrd_odem_spark.xmlparse import shred_xml

    # OCR side: the four ALTO files; all have content (none 'passed')
    files = sorted(glob.glob(os.path.join(RES, "1981185920_42296_FULLTEXT", "*.xml")))
    stems = [os.path.splitext(os.path.basename(f))[0] for f in files]
    parsed = shred_xml(
        spark.createDataFrame(
            [Row(doc_id="42296", media_ref=s, xml=open(f, encoding="utf-8").read())
             for s, f in zip(stems, files)]
        ),
        min_len=0,
    )
    lines_per_file = {
        r["media_ref"]: r["n"]
        for r in parsed.groupBy("media_ref").count().withColumnRenamed("count", "n").collect()
    }
    assert all(lines_per_file[s] > 0 for s in stems)  # 0 would be 'passed'

    # media side: MAX fileGrp hrefs from the real METS
    M = "{http://www.loc.gov/METS/}"
    X = "{http://www.w3.org/1999/xlink}"
    root = ET.parse(os.path.join(RES, "1981185920_42296.xml")).getroot()
    media_rows = []
    for grp in root.iter(f"{M}fileGrp"):
        if grp.get("USE") != "MAX":
            continue
        for f in grp.iter(f"{M}file"):
            loc = f.find(f"{M}FLocat")
            href = loc.get(f"{X}href", "")
            media_rows.append(Row(doc_id="42296",
                                  media_ref=href.rsplit("/", 1)[-1], href=href))
    assert media_rows

    ocr = spark.createDataFrame([Row(doc_id="42296", ocr_stem=s) for s in stems])
    media = spark.createDataFrame(media_rows)
    linked = link_ocr_to_media(ocr, media).collect()
    # golden: (4, 0) — all four link, each exactly once
    assert len(linked) == 4
    assert {r["ocr_stem"] for r in linked} == set(stems)


def test_golden_ocr_statistics(spark):
    """calculate_statistics_ocr goldens (``tests/test_processing.py:519-583``):
    MB sum 3.24, n_ocr 5, loss ['00000005'], MPS histogram [(3.9, 4)] —
    via media_stats, loss_set and megapixel_histogram."""
    from pyspark.sql import Row

    from ocrd_odem_spark.functions.multimodal import media_stats, megapixel_histogram
    from ocrd_odem_spark.operators.linking import loss_set

    fsizes_mb = [0.5577, 0.6628, 0.6748, 0.6669, 0.6753]
    media = spark.createDataFrame(
        [
            Row(
                doc_id="1981185920_44046",
                meta=Row(
                    # 1695 * 2297 = 3_893_415 -> exactly the golden 3.893415 MPs
                    width=1695, height=2297, dpi=None,
                    n_bytes=int(mb * 1048576), duration_ms=None,
                ),
            )
            for mb in fsizes_mb
        ],
        "doc_id string, meta struct<width:int,height:int,dpi:int,"
        "n_bytes:bigint,duration_ms:bigint>",
    )
    stats = media_stats(media).collect()[0]
    assert stats["n_media"] == 5
    assert stats["mb"] == 3.24

    # loss case: OCR result for 00000005 missing (:552-583)
    cands = spark.createDataFrame(
        [Row(doc_id="d", stem=f"0000000{i}") for i in (2, 3, 4, 5, 6)]
    )
    results = spark.createDataFrame(
        [Row(doc_id="d", stem=f"0000000{i}") for i in (2, 3, 4, 6)]
    )
    loss = loss_set(cands, results).collect()
    assert [(r["stem"], r["side"]) for r in loss] == [("00000005", "no_result")]

    hist = megapixel_histogram(media.limit(4)).collect()
    assert [(r["mps"], r["n"]) for r in hist] == [(3.9, 4)]
