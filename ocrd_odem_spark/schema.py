"""Schemas of the PySpark extraction engine.

The primary input is an Iceberg-style table of interleaved text + media
document spans (authoritative shape from BASELINE.json ``input_hint``)::

    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

The exploded per-span form ``(doc_id, kind, text, media_ref, offset)`` is used
by window/aggregate stages; all narrow per-document stages operate on the
nested array form to avoid any shuffle.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

#: primary input/output table (doc_id, spans)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

#: document-level metadata dimension (F1 type filter, T11 identifier, J4 langs)
DOC_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("mets_type", T.StringType(), True),
        T.StructField("pica_type", T.StringType(), True),
        T.StructField("identifiers", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("languages", T.ArrayType(T.StringType()), True),
    ]
)

#: page-level structure dimension (F3/F4 blacklists, J1/J2 linking)
PAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("phys_id", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("log_types", T.ArrayType(T.StringType()), True),
    ]
)
