"""Token-level Catalyst column expressions for the RTL reading order (O3).

q43 uses these: ``strip_marks`` drops directional / zero-width marks and
``reversed_line`` folds a line's tokens right-to-left.  They are plain
column expressions, so they run JVM-side and shuffle nothing.

The extract path's token post-processing (reference F5/F6/T1,
``lib/odem/processing/ocr_files.py:52-163``) is not here: the extract's
Arrow stage runs ``oracle.postprocess_line_tokens`` itself.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import CLEAR_MARKS


def strip_marks(col: Column) -> Column:
    """Remove directional / zero-width marks (reference CLEAR_MARKS)."""
    return F.translate(col, CLEAR_MARKS, "")


def reversed_line(line: Column) -> Column:
    """RTL reading order: tokens folded right-to-left (reference O3,
    ``ocr_model.py:60-69`` — ``reduce(lambda c, p: p + ' ' + c)``)."""
    return F.array_join(F.reverse(F.split(line, " ")), " ")
