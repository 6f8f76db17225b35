"""The Python worker daemon keeps Spark's own archives off the import path."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark
import pytest

from ocrd_odem_spark.worker_daemon import prune_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or name.startswith("py4j-") or name.endswith(".jar")


def test_worker_imports_pyspark_from_the_installed_package(spark):
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = sum(
            isinstance(imp, zipimport.zipimporter)
            for imp in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"path": [sys.path], "zips": [zips], "version": [pyspark.__version__]}
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(report, "path array<string>, zips long, version string")
        .collect()
    )
    assert [p for p in row["path"] if _is_spark_archive(p)] == []
    assert row["zips"] == 0
    assert row["version"] == pyspark.__version__


@pytest.fixture
def site(tmp_path):
    for package in ("pyspark", "py4j"):
        (tmp_path / "site" / package).mkdir(parents=True)
        (tmp_path / "site" / package / "__init__.py").touch()
    (tmp_path / "bare").mkdir()
    return tmp_path


def test_prune_drops_spark_archives_and_keeps_user_archives(site):
    spark_archives = [
        "/opt/spark/python/lib/pyspark.zip",
        "/opt/spark/python/lib/py4j-0.10.9.9-src.zip",
        "/opt/spark/jars/spark-core_2.13-4.1.2.jar",
    ]
    rest = ["", str(site / "deps.zip"), str(site / "bare"), str(site / "site")]
    assert prune_spark_archives(spark_archives + rest) == rest


@pytest.mark.parametrize("installed", [(), ("pyspark",), ("py4j",)])
def test_prune_keeps_path_when_pyspark_resolves_only_from_archives(site, installed):
    path = [
        "/opt/spark/python/lib/pyspark.zip",
        "/opt/spark/python/lib/py4j-0.10.9.9-src.zip",
        str(site / "bare"),
        str(site / "site"),
    ]
    for package in ("pyspark", "py4j"):
        if package not in installed:
            (site / "site" / package / "__init__.py").unlink()
    assert prune_spark_archives(path) == path


def test_package_import_does_not_load_pyspark():
    code = "import sys, ocrd_odem_spark; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True, timeout=60,
    )
    assert out.stdout.strip() == "False"
