"""Production extraction job — the ``spark-submit --py-files`` entry point.

    spark-submit --py-files ocrd_odem_spark.zip jobs/extract_job.py \
        --input  <path/table of (doc_id, spans)> \
        --output <output table path> \
        --state  <watermark state table path> \
        [--page-meta <page dimension>] [--doc-meta <doc dimension>] \
        [--dehyphenate] [--buckets 512] \
        [--range-partitions 0] \
        [--export-dir <share> --export-format flat|saf \
         --export-prefix <p> --export-collection <handle>]

With ``--export-dir`` the published output is additionally packaged as
per-document zips (S8: flat or DSpace-SAF bundles, ``sources/export.py``)
and materialized to the export share after the checkpointed run completes.

Runs the narrow extraction plan with the exact-resume bucket protocol:
re-running after any crash completes only unpublished buckets; re-running a
finished job is a no-op.  Per-bucket lineage metrics (docs, spans) land in
the state table.  On a cluster, ``--range-partitions`` adds an explicit
``repartitionByRange(doc_id)`` ahead of the narrow plan when the source's
own splits are too coarse (rarely needed for a real table).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--page-meta")
    ap.add_argument("--doc-meta")
    ap.add_argument("--dehyphenate", action="store_true")
    ap.add_argument("--buckets", type=int, default=512)
    ap.add_argument("--range-partitions", type=int, default=0)
    ap.add_argument("--export-dir")
    ap.add_argument("--export-format", default="flat", choices=["flat", "saf"])
    ap.add_argument("--export-prefix")
    ap.add_argument("--export-collection")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ocrd-odem-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.session import _stop_promptly
    from ocrd_odem_spark.sources import state

    _stop_promptly(spark.sparkContext)

    docs = spark.read.parquet(args.input)
    if args.range_partitions:
        docs = pipeline.repartition_for_scale(docs, args.range_partitions)
    page_meta = spark.read.parquet(args.page_meta) if args.page_meta else None
    doc_meta = spark.read.parquet(args.doc_meta) if args.doc_meta else None

    def transform(df):
        return pipeline.extract(
            df,
            page_meta=page_meta,
            doc_meta=doc_meta,
            dehyphenate=args.dehyphenate,
        )

    report = state.run_with_checkpoint(
        spark, docs, transform, args.output, args.state, n_buckets=args.buckets
    )
    if args.export_dir:
        from ocrd_odem_spark.sources.export import (
            export_documents,
            materialize_zips,
        )

        table = export_documents(
            state.read_output(spark, args.output),
            fmt=args.export_format,
            prefix=args.export_prefix,
            collection=args.export_collection,
        )
        report["exported"] = materialize_zips(table, args.export_dir)
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
