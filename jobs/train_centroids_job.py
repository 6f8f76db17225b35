"""Offline k-means trainer job — the train/serve split's setup step.

    spark-submit --py-files ocrd_odem_spark.zip jobs/train_centroids_job.py \
        --sf-dir /root/testdata/sf0.1 [--k 8] [--n-iter 2] [--sample-mod N]

Trains the IVF coarse quantizer ONCE per corpus (deterministic Lloyd,
``functions/similarity.train_centroids``) and persists the centroid table
as a tiny parquet under ``artifacts/centroids/``, keyed by corpus name +
config and fingerprinted by the embeddings table's byte size.  Serving
queries (q56 IVF top-k) read this table instead of training inline — at
10^12 vectors the trainer runs on a hash sample (``--sample-mod``) as its
own job, and the serving plan stays a shuffle-free literal-centroid
projection (similarity.py's documented production path).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--n-iter", type=int, default=2)
    ap.add_argument("--sample-mod", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.ui.enabled", "false")
        .appName("train-centroids")
        .getOrCreate()
    )
    try:
        from ocrd_odem_spark.plans import queries as Q
        from ocrd_odem_spark.session import _stop_promptly

        _stop_promptly(spark.sparkContext)

        store = Q._centroid_store(args.sf_dir, args.k, args.n_iter)
        if store.exists():
            store.unlink()  # force retrain: this job IS the setup step
        if args.sample_mod is not None:
            # explicit sample-mod path bypasses the keyed cache on purpose
            from ocrd_odem_spark.functions.similarity import train_centroids

            Q.load_views(spark, args.sf_dir)
            cents = train_centroids(
                spark.table("embeddings"),
                k=args.k,
                n_iter=args.n_iter,
                sample_mod=args.sample_mod,
            )
        else:
            cents = Q._trained_centroids(spark, args.sf_dir, args.k, args.n_iter)
        print(
            json.dumps(
                {
                    "store": str(store),
                    "k": len(cents),
                    "dim": len(cents[0][1]) if cents else 0,
                    "persisted": store.exists(),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
