"""Build a scaled replica of a testdata dir for at-scale smoke measurement.

The driver's round-end measurement may run at a larger, driver-generated
scale factor than the local sf0.1 (BENCH_r05.json recorded sf=1.0).  The
driver's generator is not available locally, so this tool approximates a
larger sf by replicating an existing sf dir N times with disjoint key
spaces:

* int64 primary keys and their foreign-key references into replicated
  tables get `key + copy * 10**7` (`doc_id`: `+ copy * 10**5`), so joins
  stay 1:1-shaped (no cross-copy fan-out) and every copy's keys are
  globally unique; the source keys must stay below those offsets;
* the tiny fixed dimensions (region, nation) are copied once, and the
  int32 nation/region FK columns are left untouched so those joins keep
  their original fan-in;
* text payloads get a per-copy suffix token appended so exact-dedup /
  fingerprint stages do not see byte-identical duplicates of the whole
  corpus (the result is still *harder* than an organically larger corpus
  for near-dup queries: each doc has N-1 near-identical siblings).

This is measurement tooling only: it writes to a caller-chosen scratch
dir and nothing in the engine or bench reads it unless pointed there via
SPARK_GRAFT_SF_DIR.

  python BENCH/make_scaled.py /root/testdata/sf0.1 /tmp/sfx10 10
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10**7

# table -> columns remapped per copy (int64 key spaces)
REMAP = {
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}

# the span corpus derives its doc key via lpad(str(doc_id), 6, '0'), and
# Spark's lpad TRUNCATES longer strings — a doc_id offset must keep every
# id within 6 digits or whole copies collapse into a few monster docs
# (first probe run did exactly that: 9 docs of 5000x normal size).
DOC_OFFSET = 10**5
SINGLETON = {"region", "nation"}


def scale_table(src: str, dst: str, name: str, copies: int) -> int:
    t = pq.read_table(src)
    if name in SINGLETON:
        pq.write_table(t, dst)
        return t.num_rows
    offsets = {
        col: DOC_OFFSET if col == "doc_id" else OFFSET for col in REMAP.get(name, ())
    }
    for col, off in offsets.items():
        top = pc.max(t.column(col)).as_py() or 0
        # keys at or above the offset would collide with the next copy's
        if top >= off:
            raise ValueError(f"{name}.{col}: max key {top} >= offset {off}")
        if col == "doc_id" and top + (copies - 1) * off >= 10**6:
            raise ValueError(f"{name}.doc_id: {copies} copies exceed lpad(6)")
    parts = []
    for c in range(copies):
        cols = {}
        for field in t.schema:
            col = t.column(field.name)
            if c and field.name in offsets:
                col = pc.add(col, pa.scalar(c * offsets[field.name], type=field.type))
            elif c and name == "documents" and field.name == "text":
                col = pc.binary_join_element_wise(col, f"kopie{c:02d}", " ")
            cols[field.name] = col
        parts.append(pa.table(cols, schema=t.schema if c == 0 else None))
    out = pa.concat_tables(parts, promote_options="permissive")
    pq.write_table(out.cast(t.schema), dst)
    return out.num_rows


def main() -> None:
    src_dir, dst_dir = sys.argv[1], sys.argv[2]
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst_dir, exist_ok=True)
    for f in sorted(os.listdir(src_dir)):
        if not f.endswith(".parquet"):
            continue
        name = f[: -len(".parquet")]
        n = scale_table(os.path.join(src_dir, f), os.path.join(dst_dir, f), name, copies)
        print(f"{name}: {n} rows")


if __name__ == "__main__":
    main()
