"""NUMT overlap scoring (reference ``BamReader.scala:83-88`` +
``MTClassifierModel.scala:157-172``).

The reference parses NUMT intervals but never compares positions — it
sums every NUMT score on the alignment's chromosome (SURVEY.md §8 Q6).
Here only the **intended** interval-overlap semantics exist, as a
broadcast range join.

Scale: the NUMT dimension is tiny (tens of rows) → broadcast, the
range predicate is a join residual, the alignment side never shuffles.
For big-big interval joins use operators.intervals (binned rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

READ_LENGTH = 100


def numt_overlap_score(aln: DataFrame, numts: DataFrame) -> DataFrame:
    """Add ``numt_score`` = sum of scores of overlapping NUMTs (0 if none).

    ``aln`` needs columns chrom/start/read_name; overlap uses
    [start, start+READ_LENGTH) vs the NUMT's [start, end].
    """
    n = numts.select(
        F.col("chrom").alias("_n_chrom"),
        F.col("start").alias("_n_start"),
        F.col("end").alias("_n_end"),
        F.col("score").alias("_n_score"),
    )
    aln_end = F.col("start") + F.lit(READ_LENGTH)
    overlaps = (
        aln.join(
            F.broadcast(n),
            (aln["chrom"] == n["_n_chrom"])
            & (F.col("start") <= F.col("_n_end"))
            & (aln_end >= F.col("_n_start")),
            "inner",
        )
        .groupBy("chrom", "start", "read_name")
        .agg(F.sum("_n_score").alias("_overlap_score"))
    )
    return (
        aln.join(overlaps, ["chrom", "start", "read_name"], "left")
        .withColumn(
            "numt_score",
            F.coalesce(F.col("_overlap_score"), F.lit(0.0)).cast("double"),
        )
        .drop("_overlap_score")
    )
