"""Linkage-disequilibrium scoring (reference ``LD.scala`` + the
per-read pairwise reduction ``BamReader.scala:147-153, 198-203``).

The reference collects an 88k-row table to the driver, broadcasts a
``Map[(v1,v2), Int]`` and probes it per C(n,2) variant pair inside a
``Dataset.map``. Spark-first rewrite: keep the table distributed,
form each read's pairs in-row from its variant array (no self-join),
normalize pairs to a canonical (least, greatest) key, and let Catalyst
run a **broadcast hash join** — identical semantics, no driver-side
collect, and the 100 TB side never moves.

Symmetric lookup (``LD.scala:59-67``: try (v1,v2), then (v2,v1), else
0) becomes: canonicalize both the dimension and the probe pairs; when
both orders exist in the file with different r, the (v1,v2)-ordered
entry wins — matching the reference's probe order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

LD_SCALE = 100_000


def ld_scores_table(spark: SparkSession, path: str) -> DataFrame:
    """Load a tab-separated LD file → (v1, v2, ld int).

    Read without a header line — the real mitomap.ld has none, yet
    ``LD.scala:41-44`` reads it with header=true and silently eats the
    first pair (SURVEY.md §8 Q4). The schema is given, so loading
    launches no inference job.
    """
    raw = (
        spark.read.schema("variant1 STRING, variant2 STRING, r STRING")
        .options(sep="\t", header="false")
        .csv(path)
    )
    return normalize_ld(raw.withColumn("r", F.col("r").cast("double")))


def normalize_ld(ld: DataFrame) -> DataFrame:
    """Scale r → int score, drop zeros, canonicalize the pair key.

    ``(r * 100000).toInt`` truncates toward zero (``LD.scala:26,47``) —
    double→int cast in Spark truncates identically. Zero scores are
    dropped (``LD.scala:49``). Duplicate canonical keys keep the entry
    whose original order was (least, greatest) — the reference probes
    (v1,v2) before (v2,v1).
    """
    scored = (
        ld.withColumn("ld", (F.col("r") * LD_SCALE).cast("int"))
        .where(F.col("ld") != 0)
        .select(
            F.least("variant1", "variant2").alias("v1"),
            F.greatest("variant1", "variant2").alias("v2"),
            # 0 if already canonical order (wins), 1 if swapped
            (F.col("variant1") > F.col("variant2")).cast("int").alias("_swapped"),
            "ld",
        )
    )
    w = W.partitionBy("v1", "v2").orderBy("_swapped")
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") == 1)
        .select("v1", "v2", "ld")
    )


def pairwise_ld_score(mt_features: DataFrame, ld: DataFrame) -> DataFrame:
    """Per-read LD score: sum of LD over all C(n,2) unordered variant
    pairs of the read's variant list (``BamReader.scala:198-203``).

    Plan: each row builds its own pairs from ``Variants`` (element i
    with the ``slice`` after it, canonicalized by least/greatest) →
    ``explode_outer`` → left broadcast join of the canonicalized LD dim
    → per-read sum. The regrouping keys are ``Read`` plus columns that
    depend on it, so the input's hash partitioning on ``Read`` already
    satisfies the aggregate: no join on ``Read`` and no new exchange.
    Reads with <2 variants or no scored pair get LD=0.
    """
    variants = F.col("Variants")
    n = F.size(variants)
    pairs = F.flatten(
        F.transform(
            variants,
            lambda a, i: F.transform(
                F.slice(variants, i + 2, n - i - 1),
                lambda b: F.struct(
                    F.least(a, b).alias("v1"), F.greatest(a, b).alias("v2")
                ),
            ),
        )
    )
    keys = [c for c in mt_features.columns if c != "Variants"]
    return (
        mt_features.select(*keys, F.explode_outer(pairs).alias("_p"))
        .select(*keys, "_p.v1", "_p.v2")
        .join(F.broadcast(ld), ["v1", "v2"], "left")
        .groupBy(*keys)
        .agg(F.coalesce(F.sum("ld"), F.lit(0)).cast("long").alias("LD"))
    )
