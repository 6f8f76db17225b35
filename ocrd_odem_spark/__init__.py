"""ocrd-odem-spark: PySpark-native OCR-text extraction engine.

From-scratch reimplementation of ulb-sachsen-anhalt/ocrd-odem's
post-processing/extraction semantics over interleaved text+media span
tables.  See README.md for the architecture.
"""

# no pyspark import here: ``python -m ocrd_odem_spark.worker_daemon`` runs this
# first, and the daemon must prune the worker's path before pyspark loads
from . import constants  # noqa: F401

__version__ = "0.1.0"
