"""Ingest job: raw OCR XML at rest -> the nested span table.

    spark-submit --py-files ocrd_odem_spark.zip jobs/shred_job.py \
        --xml <parquet of (doc_id, media_ref, xml)> \
        [--mets <parquet of (doc_id, mets_xml)>] \
        --output <span table> [--errors <error table>] [--min-len 2]

Shreds ALTO/PAGE payloads into the interleaved (doc_id, spans) contract;
parse failures land in the error table, never fail the job.  With ``--mets``
the doc/page dimension tables are emitted next to the output
(``<output>_doc_meta``, ``<output>_page_meta``) for the extraction job's
relevance/blacklist joins.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--xml", required=True)
    ap.add_argument("--mets")
    ap.add_argument("--output", required=True)
    ap.add_argument("--errors")
    ap.add_argument("--min-len", type=int, default=2)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("ocrd-odem-shred").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ocrd_odem_spark import metsparse, xmlparse
    from ocrd_odem_spark.session import _stop_promptly

    _stop_promptly(spark.sparkContext)

    parsed = xmlparse.shred_xml(spark.read.parquet(args.xml), min_len=args.min_len)
    parsed = parsed.persist()
    docs = xmlparse.parsed_to_spans(parsed)
    docs.write.mode("overwrite").parquet(args.output)
    n_docs = spark.read.parquet(args.output).count()

    n_errors = 0
    if args.errors:
        errs = parsed.where(F.col("error").isNotNull()).select(
            "doc_id", "media_ref", "error"
        )
        errs.write.mode("overwrite").parquet(args.errors)
        n_errors = spark.read.parquet(args.errors).count()

    if args.mets:
        doc_meta, page_meta = metsparse.shred_mets(spark.read.parquet(args.mets))
        doc_meta.write.mode("overwrite").parquet(f"{args.output}_doc_meta")
        page_meta.write.mode("overwrite").parquet(f"{args.output}_page_meta")

    print(json.dumps({"n_docs": n_docs, "n_parse_errors": n_errors}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
