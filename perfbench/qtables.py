"""Seeded input tables for the query mix.

The registry queries read ten parquet tables from one directory (see
``ocrd_odem_spark.plans.queries.TABLES``).  The mix only reads
``documents`` and ``embeddings``; the other eight are written empty with
their column types, because ``load_views`` registers every table.

``documents.text`` is made of ``gen`` OCR lines, and some documents repeat
or nearly repeat an earlier one, so the exact, MinHash and SimHash
duplicate queries all have groups to find.  Embeddings are noisy copies of
a few cluster centres, with some near-copies of earlier vectors, so the
cosine near-duplicate query has pairs above its threshold.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocrd_odem_spark import gen

_EMPTY = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [
        ("n_nationkey", pa.int32()),
        ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ],
    "customer": [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_type", pa.string()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ],
    "events": [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ],
}

_DIM = 64


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 8 and i % 7 == 0:
            text = texts[i - 3]  # exact repeat
        elif i >= 8 and i % 11 == 0:
            toks = texts[i - 5].split(" ")
            toks[rng.randrange(len(toks))] = "Neudruck"  # one word changed
            text = " ".join(toks)
        else:
            doc = gen.make_document(seed, i, n_pages=1)
            lines = [s["text"] for s in doc["spans"] if s["kind"] == "text" and s["text"]]
            text = " ".join(lines[: rng.randint(2, 6)]) or "leer"
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(["de", "la", "en", "fr"]) for _ in texts]),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rs = np.random.RandomState(seed)
    centres = rs.normal(size=(8, _DIM))
    labels = rs.randint(0, 8, size=n_vecs)
    vecs = centres[labels] + rs.normal(scale=1.5, size=(n_vecs, _DIM))
    for i in range(10, n_vecs, 10):
        vecs[i] = vecs[i - 7] + rs.normal(scale=0.05, size=_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.5).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write(path: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write all ten tables as ``<path>/<name>.parquet``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(path, "documents.parquet"))
    pq.write_table(embeddings(seed, n_vecs), os.path.join(path, "embeddings.parquet"))
    for name, fields in _EMPTY.items():
        pq.write_table(pa.schema(fields).empty_table(), os.path.join(path, f"{name}.parquet"))
