"""Production near-duplicate pipeline job — ``spark-submit`` entry point.

    spark-submit --py-files ocrd_odem_spark.zip jobs/dedup_job.py \
        --input  <parquet with (doc_id, text, ...)> \
        --output <annotated parquet> \
        [--id-col doc_id] [--text-col text] \
        [--num-hashes 64] [--bands 16] [--shingle-k 3] [--max-bucket 64] \
        [--jaccard-threshold 0.6] [--no-verify] [--stats <stats.json>]

Chains the full dedup stack over a document table:

1. **LSH candidates** — banded MinHash (`dedup.minhash_lsh_candidates`),
   bucket-capped so boilerplate never explodes a join; truncation is
   recorded in the stats JSON, never silent.
2. **Jaccard verify** — exact n-gram Jaccard on the candidate pairs only
   (skippable with ``--no-verify`` when LSH precision suffices).
3. **Connected components** — `dedup.neardup_components` collapses
   transitive candidates (A~B, B~C) into one group.
4. **Canonical election** — `dedup.dedup_keep_canonical` writes the input
   table back out with ``component`` and ``is_duplicate`` columns; the
   minimum id per component survives.

Scale shape: document payloads shuffle exactly once (the final annotate
join against the tiny ``(node, component)`` relation); everything between
runs over signatures and id pairs.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-hashes", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--max-bucket", type=int, default=64)
    ap.add_argument("--jaccard-threshold", type=float, default=0.6)
    ap.add_argument("--no-verify", action="store_true")
    ap.add_argument("--stats")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("ocrd-odem-dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ocrd_odem_spark.functions import dedup
    from ocrd_odem_spark.session import _stop_promptly

    _stop_promptly(spark.sparkContext)

    docs = spark.read.parquet(args.input)
    cand, cstats = dedup.minhash_lsh_candidates(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_k=args.shingle_k,
        max_bucket=args.max_bucket,
        with_stats=True,
    )
    stats = {f"lsh_{k}": v for k, v in cstats.collect()[0].asDict().items()}
    pairs = cand.select("id_a", "id_b")
    if not args.no_verify:
        pairs = dedup.jaccard_verify(
            docs,
            pairs,
            text_col=args.text_col,
            id_col=args.id_col,
            shingle_k=args.shingle_k,
            threshold=args.jaccard_threshold,
        ).select("id_a", "id_b")
    # candidate pairs are re-used by components round after round — pin them
    pairs = pairs.localCheckpoint(eager=True)
    stats["candidate_pairs"] = pairs.count()

    annotated = dedup.dedup_keep_canonical(
        docs, pairs, id_col=args.id_col
    )
    annotated.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    agg = out.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("is_duplicate").cast("long")).alias("duplicates"),
        F.countDistinct("component").alias("components"),
    ).collect()[0]
    stats.update(
        docs=agg["docs"], duplicates=agg["duplicates"],
        components=agg["components"],
    )
    line = json.dumps(stats, default=int)
    print(line)
    if args.stats:
        with open(args.stats, "w") as fh:
            fh.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
