"""Bayesian colocalisation: eCAVIAR (CLPP) and COLOC (h0-h4).

Re-expresses reference src/gentropy/method/colocalisation.py:99-448
with zero Python UDFs: the reference's ``logsum`` and softmax
``posteriors`` UDFs become stable higher-order array expressions
(max-shifted logsumexp / softmax), keeping the whole aggregation in
whole-stage codegen. The log-space order of operations mirrors the
reference exactly (H3 via max-shifted log-difference with the same
PSEUDOCOUNT short-circuit) so posterior values match to ~1e-12.

Input is the study_locus_overlap shape: one row per
(leftStudyLocusId, rightStudyLocusId, tagVariantId) with a
``statistics`` struct of left_*/right_* tag stats.

Scale notes: one shuffle per method — groupBy the locus pair
(fine-grained key). The beta-ratio sign average rides inside that
same aggregation, so each method reads its input once and plans no
join. Each method is one projection, the aggregation and one
projection (COLOC adds its filter and softmax), not a withColumn
chain: every DataFrame call re-analyses the whole input plan. In
``pipelines.coloc_pipeline`` that input is the overlap plan over the
checkpointed study-locus table, not the upstream clumping and
fine-mapping plan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.functions.arrays import logsumexp, softmax
from genetics_spark_coloc_spark.functions.reshape import (
    get_record_with_maximum_value,
)

PAIR_KEYS = ["leftStudyLocusId", "rightStudyLocusId", "rightStudyType", "chromosome"]
# leading output columns of both methods, in this order
OUTPUT_KEYS = ["leftStudyLocusId", "rightStudyLocusId", "chromosome", "rightStudyType"]

# COLOC constants (reference: colocalisation.py:210-219)
PSEUDOCOUNT = 1e-10
OVERLAP_SIZE_CUTOFF = 5
POSTERIOR_CUTOFF = 0.5


def tag_variant_source(statistics: Column) -> Column:
    """'both' | 'left' | 'right' depending on which side has a
    posterior for the tag (reference: colocalisation.py:26-70)."""
    return (
        F.when(
            statistics["left_posteriorProbability"].isNotNull()
            & statistics["right_posteriorProbability"].isNotNull(),
            F.lit("both"),
        )
        .when(statistics["left_posteriorProbability"].isNotNull(), F.lit("left"))
        .otherwise(F.lit("right"))
    )


def beta_ratio_sign(statistics: Column) -> Column:
    """Sign of left/right beta for one tag, null unless both betas are
    non-null and non-zero; its per-pair average is
    ``betaRatioSignAverage`` (reference:
    dataset/study_locus_overlap.py:55-83).

    The reference averages per (leftStudyLocusId, rightStudyLocusId,
    chromosome); both methods average per ``PAIR_KEYS`` instead, which
    adds ``rightStudyType``. The two groupings are equal because a
    study locus has one study type, so ``rightStudyType`` is a function
    of ``rightStudyLocusId``.
    """
    left, right = statistics["left_beta"], statistics["right_beta"]
    return F.when(
        left.isNotNull() & right.isNotNull() & (left != 0) & (right != 0),
        F.signum(left / right),
    )


def ecaviar(overlaps: DataFrame) -> DataFrame:
    """eCAVIAR CLPP per locus pair (reference: colocalisation.py:99-189).

    clpp = Σ_tags left_pp * right_pp; pure groupBy-sum.
    """
    stats = F.col("statistics")
    # non-null per-tag products in tag order: SUM-with-null-skip folds
    # them, so an all-null group gives NULL (matches F.sum / SQL SUM)
    clpps = F.filter(F.col("tags.clpp"), lambda x: x.isNotNull())
    return (
        overlaps.select(
            *PAIR_KEYS,
            "tagVariantId",
            tag_variant_source(stats).alias("tagVariantSource"),
            (
                stats["left_posteriorProbability"]
                * stats["right_posteriorProbability"]
            ).alias("clpp"),
            beta_ratio_sign(stats).alias("betaRatioSign"),
        )
        .groupBy(*PAIR_KEYS)
        .agg(
            # tag-sorted struct: deterministic summation order so the
            # CLPP is bit-reproducible across partitionings
            F.sort_array(
                F.collect_list(
                    F.struct("tagVariantId", "tagVariantSource", "clpp")
                )
            ).alias("tags"),
            F.avg("betaRatioSign").alias("betaRatioSignAverage"),
        )
        .select(
            *OUTPUT_KEYS,
            F.size(
                F.filter(F.col("tags.tagVariantSource"), lambda x: x == "both")
            ).cast("long").alias("numberColocalisingVariants"),
            F.when(
                F.size(clpps) > 0,
                F.aggregate(clpps, F.lit(0.0), lambda acc, x: acc + x),
            ).alias("clpp"),
            F.lit("eCAVIAR").alias("colocalisationMethod"),
            "betaRatioSignAverage",
        )
    )


def coloc(
    overlaps: DataFrame,
    priorc1: float = 1e-4,
    priorc2: float = 1e-4,
    priorc12: float = 1e-5,
) -> DataFrame:
    """COLOC h0-h4 posteriors per locus pair
    (reference: colocalisation.py:192-448).

    Single-causal-variant assumption; needs per-tag ``logBF`` on both
    sides. Hypothesis Bayes factors in log space:

        lH0 = 0
        lH1 = log(p1) + logsumexp(left_logBF)
        lH2 = log(p2) + logsumexp(right_logBF)
        lH3 = log(p1) + log(p2) + log(exp(ls1+ls2) - exp(ls12))  [max-shifted]
        lH4 = log(p12) + logsumexp(left_logBF + right_logBF)

    posteriors = softmax([lH0..lH4]).
    """
    stats = F.col("statistics")
    left_bf = F.coalesce(stats["left_logBF"], F.lit(0.0))
    right_bf = F.coalesce(stats["right_logBF"], F.lit(0.0))
    # collect ONE tag-sorted struct array: (a) every derived array is
    # pairwise-aligned by construction, (b) summation order is
    # deterministic (sorted by tagVariantId), so posteriors are
    # bit-reproducible across partitionings and re-runs
    grouped = (
        overlaps.select(
            *PAIR_KEYS,
            "tagVariantId",
            tag_variant_source(stats).alias("tagVariantSource"),
            left_bf.alias("left_logBF"),
            right_bf.alias("right_logBF"),
            (left_bf + right_bf).alias("sum_log_bf"),
            F.coalesce(stats["left_posteriorProbability"], F.lit(0.0)).alias("left_pp"),
            F.coalesce(stats["right_posteriorProbability"], F.lit(0.0)).alias("right_pp"),
            beta_ratio_sign(stats).alias("betaRatioSign"),
        )
        .groupBy(*PAIR_KEYS)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "tagVariantId",
                        "tagVariantSource",
                        "left_logBF",
                        "right_logBF",
                        "sum_log_bf",
                        "left_pp",
                        "right_pp",
                    )
                )
            ).alias("tags"),
            F.avg("betaRatioSign").alias("betaRatioSignAverage"),
        )
        .select(
            *PAIR_KEYS,
            "betaRatioSignAverage",
            F.size(
                F.filter(F.col("tags.tagVariantSource"), lambda x: x == "both")
            ).cast("long").alias("numberColocalisingVariants"),
            F.col("tags.left_pp").alias("left_pps"),
            F.col("tags.right_pp").alias("right_pps"),
            F.col("tags.tagVariantSource").alias("sources"),
            logsumexp(F.col("tags.left_logBF")).alias("logsum1"),
            logsumexp(F.col("tags.right_logBF")).alias("logsum2"),
            logsumexp(F.col("tags.sum_log_bf")).alias("logsum12"),
        )
    )

    # "any tag has high posterior on both sides" rescue for small overlaps
    any_snp_both_sides_high = (
        F.aggregate(
            F.zip_with(
                F.arrays_zip(F.col("left_pps"), F.col("right_pps")),
                F.col("sources"),
                lambda pp, src: F.when(
                    (src == "both")
                    & (pp["left_pps"] > POSTERIOR_CUTOFF)
                    & (pp["right_pps"] > POSTERIOR_CUTOFF),
                    1.0,
                ).otherwise(0.0),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        > 0
    )

    sumlogsum = F.col("logsum1") + F.col("logsum2")
    mx = F.greatest(sumlogsum, F.col("logsum12"))
    logdiff = F.when(sumlogsum == F.col("logsum12"), F.lit(PSEUDOCOUNT)).otherwise(
        mx + F.log(F.exp(sumlogsum - mx) - F.exp(F.col("logsum12") - mx))
    )

    lh0 = F.lit(0.0)
    lh1 = F.lit(math.log(priorc1)) + F.col("logsum1")
    lh2 = F.lit(math.log(priorc2)) + F.col("logsum2")
    lh3 = F.lit(math.log(priorc1)) + F.lit(math.log(priorc2)) + logdiff
    lh4 = F.lit(math.log(priorc12)) + F.col("logsum12")

    return (
        grouped.filter(
            (F.col("numberColocalisingVariants") > OVERLAP_SIZE_CUTOFF)
            | any_snp_both_sides_high
        )
        .withColumn("posteriors", softmax(F.array(lh0, lh1, lh2, lh3, lh4)))
        .select(
            *OUTPUT_KEYS,
            "numberColocalisingVariants",
            F.col("posteriors")[0].alias("h0"),
            F.col("posteriors")[1].alias("h1"),
            F.col("posteriors")[2].alias("h2"),
            F.col("posteriors")[3].alias("h3"),
            F.col("posteriors")[4].alias("h4"),
            F.lit("COLOC").alias("colocalisationMethod"),
            "betaRatioSignAverage",
        )
    )


def append_study_metadata(
    colocalisation: DataFrame,
    study_locus: DataFrame,
    study_index: DataFrame,
    metadata_cols: list[str],
    colocalisation_side: str = "right",
) -> DataFrame:
    """Bring study metadata columns onto one side of a coloc result
    (reference append_study_metadata, dataset/colocalisation.py:126-160):
    locus→study LUT join, then a broadcast join on the study index;
    metadata columns come out prefixed with the side."""
    locus_lut = study_locus.select(
        F.col("studyLocusId").alias(f"{colocalisation_side}StudyLocusId"),
        F.col("studyId").alias("_sideStudyId"),
    )
    meta = study_index.select(
        F.col("studyId").alias("_sideStudyId"),
        *[
            F.col(c).alias(
                f"{colocalisation_side}{c[0].upper()}{c[1:]}"
            )
            for c in metadata_cols
        ],
    )
    return (
        colocalisation.join(
            F.broadcast(locus_lut), on=f"{colocalisation_side}StudyLocusId"
        )
        .join(F.broadcast(meta), on="_sideStudyId", how="left")
        .drop("_sideStudyId")
    )


def max_coloc_probability_per_region_and_gene(
    colocalisation: DataFrame,
    study_locus: DataFrame,
    study_index: DataFrame,
    *,
    filter_by_colocalisation_method: str,
    filter_by_qtls: list[str] | None = None,
) -> DataFrame:
    """Strongest colocalisation per (GWAS studyLocus, gene)
    (reference extract_maximum_coloc_probability_per_region_and_gene,
    dataset/colocalisation.py:39-124): annotate the right side with
    (geneId, studyType), filter to the requested method / QTL types,
    restrict to the provided loci, then rank-1 per (locus, gene) on
    the method's metric (clpp for eCAVIAR, h4 for COLOC)."""
    method = filter_by_colocalisation_method.lower()
    metric = {"ecaviar": "clpp", "coloc": "h4"}[method]
    annotated = append_study_metadata(
        colocalisation,
        study_locus,
        study_index,
        metadata_cols=["geneId", "studyType"],
        colocalisation_side="right",
    )
    cond = F.col("rightGeneId").isNotNull() & (
        F.lower(F.col("colocalisationMethod")) == method
    )
    if filter_by_qtls:
        cond &= F.lower(F.col("rightStudyType")).isin(
            [q.lower() for q in filter_by_qtls]
        )
    filtered = annotated.filter(cond).join(
        study_locus.select(F.col("studyLocusId").alias("leftStudyLocusId")).distinct(),
        on="leftStudyLocusId",
    )
    return get_record_with_maximum_value(
        filtered.withColumnRenamed("leftStudyLocusId", "studyLocusId")
        .withColumnRenamed("rightGeneId", "geneId"),
        ["studyLocusId", "geneId"],
        metric,
    )
