"""Locus-overlap detection: which credible-set pairs share tag variants.

Re-expresses the reference's ``find_overlaps`` pipeline
(reference: src/gentropy/dataset/study_locus.py:487-607,821-858):

1. explode each locus' credible set into (studyLocusId, tagVariantId)
   tag rows,
2. self-join on (chromosome, tagVariantId) with the asymmetry
   predicates (left is GWAS; right is molecular trait OR the
   id-ordered half of GWAS-GWAS pairs) → distinct peak pairs,
3. re-join both sides' full tag lists and full-outer align on
   tagVariantId into a left_*/right_* ``statistics`` struct.

Scale notes: the self-join shuffles on (chromosome, tagVariantId) —
fine-grained keys, so it spreads well; the peak-pair table is
repartitioned by chromosome and persisted because it feeds two
downstream joins (mirrors reference :543-544). High-frequency tag
variants are the skew risk → AQE skew-join handles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TAG_STATS_COLS = ["logBF", "posteriorProbability", "beta", "pValueMantissa", "pValueExponent"]


def explode_locus_tags(study_locus: DataFrame) -> DataFrame:
    """Flatten the ``locus`` credible-set array into one row per tag
    (reference: study_locus.py:835-852)."""
    return (
        study_locus.filter(F.col("studyType").isNotNull())
        .select(
            "studyLocusId",
            "studyId",
            "studyType",
            "chromosome",
            "region",
            F.explode("locus").alias("tag"),
        )
        .select(
            "studyLocusId",
            "studyId",
            "studyType",
            "chromosome",
            "region",
            F.col("tag.variantId").alias("tagVariantId"),
            *[F.col(f"tag.{c}").alias(c) for c in TAG_STATS_COLS],
        )
    )


def overlapping_peaks(tags: DataFrame, intra_study_overlap: bool = False) -> DataFrame:
    """Distinct overlapping (left, right) locus pairs
    (reference: study_locus.py:487-545)."""
    left = tags.alias("left")
    right = tags.alias("right")
    if intra_study_overlap:
        condition = [
            F.col("left.studyId") == F.col("right.studyId"),
            F.col("left.chromosome") == F.col("right.chromosome"),
            F.col("left.tagVariantId") == F.col("right.tagVariantId"),
            F.col("left.studyLocusId") > F.col("right.studyLocusId"),
            F.col("left.region") != F.col("right.region"),
        ]
    else:
        condition = [
            F.col("left.chromosome") == F.col("right.chromosome"),
            F.col("left.tagVariantId") == F.col("right.tagVariantId"),
            (F.col("right.studyType") != "gwas")
            | (F.col("left.studyLocusId") > F.col("right.studyLocusId")),
            F.col("left.studyType") == F.lit("gwas"),
        ]
    return (
        left.join(right, on=condition, how="inner")
        .select(
            F.col("left.studyLocusId").alias("leftStudyLocusId"),
            F.col("right.studyLocusId").alias("rightStudyLocusId"),
            F.col("right.studyType").alias("rightStudyType"),
            F.col("left.chromosome").alias("chromosome"),
        )
        .distinct()
        .repartition("chromosome")
        .persist()
    )


def align_overlapping_tags(tags: DataFrame, peak_overlaps: DataFrame) -> DataFrame:
    """Align both loci's tags per overlapping pair via full-outer join
    on tagVariantId (reference: study_locus.py:547-607)."""
    left_tags = tags.select(
        "chromosome",
        "tagVariantId",
        F.col("studyLocusId").alias("leftStudyLocusId"),
        *[F.col(c).alias(f"left_{c}") for c in TAG_STATS_COLS],
    ).join(peak_overlaps, on=["chromosome", "leftStudyLocusId"], how="inner")

    right_tags = tags.select(
        "chromosome",
        "tagVariantId",
        F.col("studyLocusId").alias("rightStudyLocusId"),
        *[F.col(c).alias(f"right_{c}") for c in TAG_STATS_COLS],
    ).join(peak_overlaps, on=["chromosome", "rightStudyLocusId"], how="inner")

    return left_tags.join(
        right_tags,
        on=["chromosome", "rightStudyLocusId", "leftStudyLocusId", "tagVariantId", "rightStudyType"],
        how="outer",
    ).select(
        "leftStudyLocusId",
        "rightStudyLocusId",
        "rightStudyType",
        "chromosome",
        "tagVariantId",
        F.struct(
            *[F.col(f"left_{c}") for c in TAG_STATS_COLS],
            *[F.col(f"right_{c}") for c in TAG_STATS_COLS],
        ).alias("statistics"),
    )


def find_overlaps(study_locus: DataFrame, intra_study_overlap: bool = False) -> DataFrame:
    """Full overlap pipeline: study_locus -> study_locus_overlap rows
    (reference: study_locus.py:821-858).

    The ``tags`` and peak-pair persists stay even over a checkpointed
    input: the cached relations' measured sizes are what let the align
    joins broadcast. On the ``perfbench`` coloc workload (4-core host,
    two runs each), dropping both raised the pass's shuffled bytes from
    2.36 to 3.27 MB (+39 %) and swapping them for ``localCheckpoint``
    to 3.20 MB (+36 %). Neither is ever unpersisted, so cached blocks
    pile up across calls in a long-lived session; that leak is still
    open.
    """
    tags = explode_locus_tags(study_locus).persist()
    peaks = overlapping_peaks(tags, intra_study_overlap)
    return align_overlapping_tags(tags, peaks)
