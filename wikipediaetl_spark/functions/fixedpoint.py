"""Fixed-point folds: the one rounding contract behind every exact LONG sum.

Money and score aggregates (TPC-H folds, categorizer summaries, curation
scores) fold as integers on a 10^-k grid so that results are bit-identical
to the DuckDB oracles under any partitioning or execution order. Every such
fold quantizes with :func:`scaled_long` and turns the exact integer back
into a double with :func:`unscale` or :func:`sum_unscaled`. Why that is
exact:

- **Lossless quantization.** The inputs carry at most k decimals (2-decimal
  money at scale 100; a 2+2-decimal product at scale 10_000), so x·10^k is
  an integer up to a double's ~1e-16 relative error, far inside the ±0.5 the
  floor absorbs: ``floor(x·10^k + 0.5)`` recovers that integer exactly.
- **Per-partial bound.** A LONG partial that groups by
  ``spark_partition_id()`` sums at most one scan task's rows: a 128 MB split
  holds ~1M rows × ≤5e11 per 1e-6-scaled term ≈ 5e17 < 2^63. The bound is
  the task's row count, never the group size.
- **Unbounded combine.** The partials re-sum as DECIMAL(38,0), which no
  realistic count of < 2^63 partials can overflow, and the division by 10^k
  happens in decimal: the quotient is exact and is rounded once, on the cast
  to DOUBLE. A total below 2^53 thus equals the oracle's
  ``CAST(sum(...) AS DOUBLE) / 10^k``.
- **ANSI backstop.** ``spark.sql.ansi.enabled`` is pinned by the catalog, so
  any breach of the LONG bound raises ``ARITHMETIC_OVERFLOW`` instead of
  wrapping silently.
- **Ties.** ``floor(v + 0.5)`` rounds half toward +inf, not HALF_UP:
  -12.5 becomes -12 where HALF_UP gives -13. Ties cannot occur on
  lossless inputs; for computed scores (logs, square roots) the oracles
  spell the same ``floor(v + 0.5)``, so both engines break ties alike.

``scale`` must be a Python ``int`` power of ten. A float scale would turn
the decimal quotient into a double division, so anything else raises
``ValueError``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _check_scale(scale: int) -> None:
    if type(scale) is not int or str(scale).rstrip("0") != "1":
        raise ValueError(f"scale must be an int power of ten, got {scale!r}")


def scaled_long(col: Column, scale: int) -> Column:
    """``floor(col·scale + 0.5)`` as LONG: half toward +inf onto the
    1/scale grid. Scale 1 adds no multiply."""
    _check_scale(scale)
    scaled = col if scale == 1 else col * scale
    return F.floor(scaled + F.lit(0.5)).cast("long")


def scaled_long_np(arr, scale: int):
    """NumPy twin of :func:`scaled_long` for pandas-state paths."""
    _check_scale(scale)
    return np.floor(arr * scale + 0.5).astype("int64")


def unscale(col: Column, scale: int) -> Column:
    """Exact LONG → DECIMAL(38,0) ÷ scale in decimal, rounded once to DOUBLE."""
    _check_scale(scale)
    return (col.cast("decimal(38,0)") / scale).cast("double")


def sum_unscaled(col: Column, scale: int) -> Column:
    """Combine LONG partials (salted by ``spark_partition_id()``): their
    DECIMAL(38,0) sum ÷ scale, rounded once to DOUBLE."""
    _check_scale(scale)
    return (F.sum(col.cast("decimal(38,0)")) / scale).cast("double")
