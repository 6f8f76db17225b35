"""SparkSession factory with the engine's scale-oriented defaults.

Sized for the sandbox (single JVM, local[N]) but every knob is the one you
would set on a 1000-executor cluster: AQE with skew-join handling, Arrow for
any pandas-UDF exchange, shuffle partitions matched to parallelism.

Python workers start from ``ocrd_odem_spark.worker_daemon``.  Spark puts its
own archives (``pyspark.zip``, the py4j zip, the 37 MB spark-core jar) first
on the worker's ``PYTHONPATH``, and a reused worker calls
``importlib.invalidate_caches()`` at the start of every task, which makes
CPython 3.11 re-read each cached zip importer's central directory: 0.2-0.5 s
per task, more than a 250-document extract task spends in the extract's
own ``mapInArrow`` function (README "Python workers" splits such a task by
phase).  The daemon imports ``pyspark`` from the installed package instead.
The ``jobs/*.py`` spark-submit entry points build their own session and keep
Spark's worker daemon: they ship this package with ``--py-files``, so it is
not importable when a worker daemon starts.

``get_spark`` (and each job) also swaps the context's accumulator update
handler for one that returns as soon as the session stops: PySpark's own
``select``s the JVM's connection in 1-s steps, and the JVM opens that
connection at the first Python task's merge, so each ``SparkSession.stop()``
after a Python stage waited ~1 s for it (README "Python workers", "Session
stop").

Spark's ``pythonInitTime`` SQL metric also counts the time a reused worker
waits for its next task, so it is not pure worker set-up time.
"""

from __future__ import annotations

import os
import select

from pyspark import SparkContext
from pyspark.accumulators import UpdateRequestHandler, _accumulatorRegistry, pickleSer
from pyspark.serializers import read_int
from pyspark.sql import SparkSession

#: how often the accumulator handler checks whether its server is stopping
_ACCUMULATOR_POLL_S = 0.02


class _PromptStopHandler(UpdateRequestHandler):
    """PySpark's accumulator update handler, stopping within ~20 ms.

    The protocol is PySpark's: the auth token once (none on a Unix socket),
    then per merge an ``int`` count of pickled ``(aid, update)`` pairs, each
    added into ``_accumulatorRegistry``, and a 1-byte ack.  The loop ends on
    ``BaseServer.shutdown``'s own flag, not on ``server_shutdown``, which is
    set before it: a handler that returned in between would send
    ``serve_forever`` back into its 0.5-s poll.
    """

    def handle(self) -> None:
        server = self.server
        token = server.auth_token
        while not server._BaseServer__shutdown_request:
            if not select.select([self.rfile], [], [], _ACCUMULATOR_POLL_S)[0]:
                continue
            if token is not None:
                if self.rfile.read(len(token)) != token.encode("utf-8"):
                    raise ValueError(
                        "The value of the provided token to the "
                        "AccumulatorServer is not correct."
                    )
                token = None
            for _ in range(read_int(self.rfile)):
                aid, update = pickleSer._read_with_length(self.rfile)
                _accumulatorRegistry[aid] += update
            self.wfile.write(b"\x01")


def _stop_promptly(sc: SparkContext) -> None:
    """Serve ``sc``'s accumulator updates with ``_PromptStopHandler``."""
    sc._accumulatorServer.RequestHandlerClass = _PromptStopHandler


def get_spark(
    app_name: str = "ocrd-odem-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Python workers resolve imports from PYTHONPATH, not the driver's
    # sys.path — make the engine (and its worker daemon) importable on
    # executors regardless of cwd (cluster deployments ship the package via
    # spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ocrd_odem_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # JVM tuning hook (e.g. GC choice) — local mode runs everything in the
    # driver JVM, so driver options govern executor threads too
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    _stop_promptly(spark.sparkContext)
    return spark
