"""METS/MODS structural metadata shredding (S4, J1, J2, T11 inputs).

Reimplements what the reference's ``ODEMMetadataInspecteur`` reads from a
METS file (``lib/odem/processing/mets.py:55-318``): ``parse_mets`` parses
one document, and ``shred_mets`` runs it as two ``mapInPandas`` passes
producing the two dimension tables the pipeline joins against:

* ``doc_meta``  — logical type (root logical ``div/@TYPE``), identifiers
  (``mods:identifier/@type`` map), languages (``mods:languageTerm``),
  PICA type (``mods:recordInfo/recordIdentifier`` style field when
  present), the structural ``validation`` channel (one string per violated
  invariant: no logical type, no pages, no images, unlinked pages, no
  identifier) and a parse ``error``.
* ``page_meta`` — one row per physical page: image stem from the MAX
  fileGrp ``FLocat/@href`` (J1: ``fptr/@FILEID == file/@ID``), physical
  div id + ORDERLABEL/LABEL, linked logical types via ``structLink``
  (J2: ``smLink/@xlink:to == phys_id`` then ``@xlink:from == log div``).
  Pages with no logical link carry a ``link_error`` instead of raising
  ("Page not linked", ``mets.py:299-318``).

The reference's XSD/DDB schema validation and its fileGrp rewrite
(``modify_mets_groups``) are not reproduced: no query or job reads them.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

_METS = "{http://www.loc.gov/METS/}"
_MODS = "{http://www.loc.gov/mods/v3}"
_XLINK = "{http://www.w3.org/1999/xlink}"

DOC_META_OUT = (
    "doc_id string, mets_type string, pica_type string, "
    "identifiers map<string,string>, languages array<string>, "
    "validation array<string>, error string"
)
PAGE_META_OUT = (
    "doc_id string, media_ref string, phys_id string, label string, "
    "log_types array<string>, link_error string"
)


def parse_mets(payload: bytes | str, file_group: str = "MAX") -> dict:
    """One METS document -> {'doc': {...}, 'pages': [...]} python dicts.

    ``file_group``: USE attribute of the image fileGrp to link pages from
    (reference default 'MAX', configurable to e.g. 'DEFAULT';
    ``mets.py:24-25,252-255``).
    """
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    root = ET.fromstring(payload)

    # --- MODS document metadata -------------------------------------------
    identifiers: dict[str, str] = {}
    for ident in root.iter(f"{_MODS}identifier"):
        if ident.text:
            identifiers[ident.get("type", "unknown")] = ident.text.strip()
    # recordInfo/recordIdentifier@source feeds the same map (the reference's
    # identifier resolution prefers 'gvk-ppn' from here, mets.py:19,131-165)
    for rec_id in root.iter(f"{_MODS}recordIdentifier"):
        if rec_id.text and rec_id.get("source"):
            identifiers.setdefault(rec_id.get("source"), rec_id.text.strip())
    languages = [
        el.text.strip()
        for el in root.iter(f"{_MODS}languageTerm")
        if el.text and el.get("type", "code") == "code"
    ]
    pica = None
    for field in root.iter(f"{_MODS}recordIdentifier"):
        if field.get("source") == "pica" and field.text:
            pica = field.text.strip()

    # --- logical type: first div of the LOGICAL structMap ------------------
    mets_type = None
    log_types_by_id: dict[str, str] = {}
    for smap in root.iter(f"{_METS}structMap"):
        if smap.get("TYPE") == "LOGICAL":
            for i, div in enumerate(smap.iter(f"{_METS}div")):
                if i == 0:
                    mets_type = div.get("TYPE")
                if div.get("ID"):
                    log_types_by_id[div.get("ID")] = div.get("TYPE", "")

    # --- J1: configured fileGrp file id -> href stem ------------------------
    href_by_file_id: dict[str, str] = {}
    for grp in root.iter(f"{_METS}fileGrp"):
        if grp.get("USE") != file_group:
            continue
        for f in grp.iter(f"{_METS}file"):
            loc = f.find(f"{_METS}FLocat")
            if loc is not None:
                href = loc.get(f"{_XLINK}href", "")
                stem = href.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                href_by_file_id[f.get("ID", "")] = stem

    # --- J2: structLink phys -> logical ------------------------------------
    links_by_phys: dict[str, list[str]] = {}
    for link in root.iter(f"{_METS}smLink"):
        frm = link.get(f"{_XLINK}from", "")
        to = link.get(f"{_XLINK}to", "")
        links_by_phys.setdefault(to, []).append(frm)

    # --- physical pages -----------------------------------------------------
    pages = []
    for smap in root.iter(f"{_METS}structMap"):
        if smap.get("TYPE") != "PHYSICAL":
            continue
        for div in smap.iter(f"{_METS}div"):
            if div.get("TYPE") != "page":
                continue
            phys_id = div.get("ID", "")
            # LABEL takes priority over ORDERLABEL (reference
            # _phys_container_for_id, mets.py:380-392)
            label = div.get("LABEL") or div.get("ORDERLABEL") or ""
            stem = None
            for fptr in div.findall(f"{_METS}fptr"):
                fid = fptr.get("FILEID", "")
                if fid in href_by_file_id:
                    stem = href_by_file_id[fid]
                    break
            log_ids = links_by_phys.get(phys_id, [])
            log_types = [log_types_by_id.get(i, "") for i in log_ids]
            link_error = None if log_ids else f"Page {phys_id} not linked"
            pages.append(
                {
                    "media_ref": stem,
                    "phys_id": phys_id,
                    "label": label,
                    "log_types": log_types,
                    "link_error": link_error,
                }
            )

    # --- structural validation channel --------------------------------------
    # analogue of the reference's validate_mets + inspection exceptions
    # (mets.py:501-518 schema gate; ODEMNoTypeForOCRException /
    # ODEMMetadataMetsException / ODEMNoImagesForOCRException,
    # mets.py:31-53,107-122,256-263): one error STRING per violated
    # structural invariant — a data channel, never a task failure.
    validation: list[str] = []
    if mets_type is None:
        validation.append("found no logical type")
    if not pages:
        validation.append("contains no physical pages")
    if not href_by_file_id:
        validation.append(f"contains no images in fileGrp '{file_group}'")
    n_unlinked = sum(1 for p in pages if p["link_error"])
    if n_unlinked:
        validation.append(f"{n_unlinked}x: pages not linked")
    if not identifiers:
        validation.append("found no record identifier")

    return {
        "doc": {
            "mets_type": mets_type,
            "pica_type": pica,
            "identifiers": identifiers,
            "languages": languages,
            "validation": validation,
        },
        "pages": pages,
    }


def shred_mets(df, file_group: str = "MAX"):
    """(doc_id, mets_xml) -> (doc_meta_df, page_meta_df), error channels.

    Two Arrow-batched passes over the same input (Catalyst caches the scan;
    each output is independently consumable).
    """
    import pandas as pd

    def run_docs(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                try:
                    parsed = parse_mets(rec.mets_xml, file_group)
                    d = parsed["doc"]
                    rows.append(
                        (rec.doc_id, d["mets_type"], d["pica_type"],
                         d["identifiers"], d["languages"], d["validation"], None)
                    )
                except ET.ParseError as exc:
                    rows.append((rec.doc_id, None, None, None, None, None, str(exc)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "mets_type", "pica_type",
                         "identifiers", "languages", "validation", "error"],
            )

    def run_pages(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                try:
                    for p in parse_mets(rec.mets_xml, file_group)["pages"]:
                        rows.append(
                            (rec.doc_id, p["media_ref"], p["phys_id"],
                             p["label"], p["log_types"], p["link_error"])
                        )
                except ET.ParseError:
                    continue  # file-level error surfaces in the doc channel
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "phys_id",
                         "label", "log_types", "link_error"],
            )

    return (
        df.mapInPandas(run_docs, schema=DOC_META_OUT),
        df.mapInPandas(run_pages, schema=PAGE_META_OUT),
    )

