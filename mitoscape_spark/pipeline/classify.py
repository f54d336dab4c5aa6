"""End-to-end classification pipeline (reference ``MTClassify.main``,
``MTClassify.scala:131-213``; stage trace in SURVEY.md §3.1).

One sample is one lazy plan: building the result launches no Spark
job — the feature table, scoring, filters and write-back semi-join all
run under the caller's first action.

Differences from the reference, all deliberate:
  * feature DataFrame is cached once — the reference recomputes the
    whole BAM parse for every isEmpty/fit/transform action
    (SURVEY.md §4.1);
  * no emptiness round-trip: the reference's ``isEmpty`` exits
    (``MTClassifierModel.scala:77-80``, ``MTClassify.scala:161``) are
    what the general plan already yields on empty input — zero rows;
  * the LD/NUMT dimensions stay distributed and broadcast-join
    (no driver collect);
  * inner join on Read matches the reference's actual (not commented)
    semantics (SURVEY.md §8 Q2);
  * output is a parquet sink of surviving alignments (BAM writeback
    lives behind sources.bam's optional pysam path).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitoscape_spark.pipeline.features import mt_features, nt_features
from mitoscape_spark.pipeline.ld import pairwise_ld_score
from mitoscape_spark.pipeline.ml import MT_LABEL, max_probability
from mitoscape_spark.pipeline.normalize import normalize_mapq

DEFAULT_PROB = 0.5  # MTClassify.scala:115


@dataclass
class ClassifyResult:
    features: DataFrame  # joined + normalized feature table (cached)
    survivors: DataFrame  # read names classified MT at threshold
    alignments: DataFrame  # original MT alignments, filtered


def build_feature_table(
    mt_aln: DataFrame,
    nt_aln: DataFrame,
    ld: DataFrame,
    numts: DataFrame | None = None,
    genome_relative: bool = True,
) -> DataFrame:
    """``MTClassifierModel.DF`` (``MTClassifierModel.scala:71-87``):
    MT features ⋈ NT features on Read (inner), literal MT label, pooled
    MapQ z-normalization. Cached, not materialized; an empty MT side
    gives an empty table."""
    mt = pairwise_ld_score(mt_features(mt_aln, genome_relative), ld)
    nt = nt_features(nt_aln, numts)
    joined = (
        mt.join(nt, "Read", "inner")
        .withColumn("label", F.lit(MT_LABEL))
    )
    return normalize_mapq(joined).cache()


def classify(
    mt_aln: DataFrame,
    nt_aln: DataFrame,
    ld: DataFrame,
    numts: DataFrame | None = None,
    *,
    model,
    prob: float = DEFAULT_PROB,
    genome_relative: bool = True,
) -> ClassifyResult:
    """Stages 1–3 of ``MTClassify.main``: features → model scoring →
    MaxProb/prediction filters → semi-join back onto the alignments.

    ``model``: a fitted PipelineModel (``ml.train_rf`` /
    ``ml.load_pipeline_model``). ``prob <= 0`` skips classification and
    keeps every featured read (``MTClassify.scala:161``).
    """
    features = build_feature_table(
        mt_aln, nt_aln, ld, numts, genome_relative=genome_relative
    )
    if prob <= 0:
        survivors = features.select("Read")
    else:
        probs = max_probability(model.transform(features))
        survivors = (
            probs.where(F.col("MaxProb") >= prob)
            .where(F.col("Prediction") == MT_LABEL)
            .select("Read")
        )

    filtered = mt_aln.join(
        survivors,
        mt_aln["read_name"] == survivors["Read"],
        "left_semi",
    )
    return ClassifyResult(
        features=features, survivors=survivors, alignments=filtered
    )
