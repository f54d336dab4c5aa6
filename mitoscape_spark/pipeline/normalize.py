"""MapQ z-normalization (reference ``NormalizeMapQ``,
``MTClassifierModel.scala:119-144``).

Pooled mean/stddev over MT and NT MapQ together, then z-score both.
The pool is ``explode(array(MTMapQ, NTMapQ))`` — one scan of the
input, one global aggregate. The reference pulls the one-row stats to
the driver with ``.first()``; we broadcast-cross-join the 1-row
aggregate instead — no driver round-trip, and the fact table streams
through a map stage.

Empty input needs no guard (the reference's,
``MTClassifierModel.scala:121-124``, is an ``isEmpty`` job): the cross
join of zero rows is zero rows, with both MapQ columns typed double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAPQ = ("MTMapQ", "NTMapQ")


def normalize_mapq(joined: DataFrame) -> DataFrame:
    """Replace MTMapQ/NTMapQ with pooled z-scores (both as double)."""
    stats = joined.select(F.explode(F.array(*_MAPQ)).alias("MapQ")).agg(
        F.avg("MapQ").alias("_mean"), F.stddev_samp("MapQ").alias("_sd")
    )
    return (
        joined.crossJoin(F.broadcast(stats))
        .withColumns(
            {c: (F.col(c) - F.col("_mean")) / F.col("_sd") for c in _MAPQ}
        )
        .drop("_mean", "_sd")
    )
