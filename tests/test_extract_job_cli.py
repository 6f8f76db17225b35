"""Real CLI run of jobs/extract_job.py (the spark-submit surface), with
the page/doc metadata and the S8 export flags — own JVM via subprocess,
tiny corpus."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from ocrd_odem_spark import gen, oracle
from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA
from ocrd_odem_spark.sources import state

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_extract_job_cli_with_export(spark, tmp_path):
    corpus = gen.make_corpus(11, 12)
    pages = gen.make_page_meta(11, corpus)
    docs = gen.make_doc_meta(11, corpus)
    spark.createDataFrame(corpus, DOCS_SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "in")
    )
    spark.createDataFrame(pages, PAGE_META_SCHEMA).write.parquet(
        str(tmp_path / "pages")
    )
    spark.createDataFrame(docs, DOC_META_SCHEMA).write.parquet(str(tmp_path / "docs"))
    expected = {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for doc_id, spans in oracle.extract_corpus(
            corpus, pages, docs, dehyphenate=True
        ).items()
    }
    assert 0 < len(expected) < len(corpus)
    env = os.environ.copy()
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", str(tmp_path / "in"),
         "--output", str(tmp_path / "out"),
         "--state", str(tmp_path / "state"),
         "--page-meta", str(tmp_path / "pages"),
         "--doc-meta", str(tmp_path / "docs"),
         "--dehyphenate", "--buckets", "4",
         "--export-dir", str(tmp_path / "share"),
         "--export-format", "saf",
         "--export-prefix", "odem_",
         "--export-collection", "123456789/11"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["published"] == 4
    published = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in state.read_output(spark, str(tmp_path / "out")).collect()
    }
    assert published == expected
    assert report["exported"] == len(expected)
    zips = sorted(os.listdir(tmp_path / "share"))
    assert len(zips) == len(expected)
    assert all(z.startswith("odem_") and z.endswith(".zip") for z in zips)
    with zipfile.ZipFile(tmp_path / "share" / zips[0]) as zf:
        names = set(zf.namelist())
    assert "dublin_core.xml" in names and "collections" in names
