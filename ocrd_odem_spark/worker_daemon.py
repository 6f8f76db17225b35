"""Python worker daemon that keeps Spark's own archives off the import path.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar first on the
worker's ``PYTHONPATH``.  At the start of every task, a reused worker calls
``importlib.invalidate_caches()``, and on CPython 3.11 each cached
``zipimporter`` (one per pyspark subpackage, two for the jar) then re-reads
its archive's whole central directory in pure Python: 0.2-0.5 s per task.
When ``pyspark`` and ``py4j`` are installed as plain packages on the
remaining path (the install the driver imports), the daemon drops those
archives and their cached importers before it imports ``pyspark.daemon``.
Otherwise it changes nothing.
"""

from __future__ import annotations

import os
import sys


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def prune_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, if ``pyspark`` and ``py4j`` both
    resolve from a directory on what remains; else ``path`` unchanged."""
    kept = [p for p in path if not _is_spark_archive(p)]

    def resolves(package: str) -> bool:
        return any(
            os.path.isfile(os.path.join(p or os.curdir, package, "__init__.py"))
            for p in kept
        )

    return kept if resolves("pyspark") and resolves("py4j") else list(path)


if __name__ == "__main__":
    kept = prune_spark_archives(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    # ``python -m`` already cached importers for the archives it searched
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()
