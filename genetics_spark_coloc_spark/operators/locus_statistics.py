"""Collect summary statistics into loci — the engine's range join.

Re-expresses reference src/gentropy/dataset/study_locus.py:992-1035
(``annotate_locus_statistics``: sumstats within ±distance of the lead).
The reference's [locusStart, locusEnd] variant (:1291-1354) has no
caller here and is not carried.

Scale design (SURVEY §4): the reference broadcasts the loci and lets
Spark evaluate the range predicate as a nested-loop-ish residual,
O(n·m) per chromosome. Here the range join is **position-binned**:
both sides get an equi-key ``bin = floor(position / width)``; each
locus is replicated to every candidate bin (the window half-width
equals the bin width, so ±1 suffices for the lead-centred variant),
and the residual BETWEEN filter runs after an equi hash join. At
100 TB this is a plain hash join on (studyId, chromosome, bin)
instead of a nested-loop scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TAG_STAT_COLS = ["pValueMantissa", "pValueExponent", "beta", "standardError"]


def _locus_struct(sumstat_cols: list[str]):
    fields = [F.col("ss.variantId").alias("variantId")]
    for c in _TAG_STAT_COLS:
        if c in sumstat_cols:
            fields.append(F.col(f"ss.{c}").alias(c))
    return F.struct(*fields)


def annotate_locus_statistics(
    study_locus: DataFrame,
    sumstats: DataFrame,
    distance: int,
) -> DataFrame:
    """Attach a ``locus`` array of sumstat rows within ±``distance`` of
    each lead position.

    The clumped loci (three bins per lead) broadcast onto the sumstats
    scan: they are small relative to sumstats in the normal regime.
    """
    loci = F.broadcast(
        study_locus.select(
            F.col("studyLocusId").alias("lc_studyLocusId"),
            F.col("studyId").alias("lc_studyId"),
            F.col("chromosome").alias("lc_chromosome"),
            F.col("position").alias("lc_position"),
        )
        .withColumn(
            "lc_bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("lc_position") / distance).cast("int") - 1,
                    F.floor(F.col("lc_position") / distance).cast("int") + 1,
                )
            ),
        )
    )

    ss = sumstats.alias("ss").withColumn(
        "ss_bin", F.floor(F.col("position") / distance).cast("int")
    )
    tagged = ss.join(
        loci,
        on=[
            F.col("ss.studyId") == F.col("lc_studyId"),
            F.col("ss.chromosome") == F.col("lc_chromosome"),
            F.col("ss_bin") == F.col("lc_bin"),
            F.col("ss.position").between(
                F.col("lc_position") - distance, F.col("lc_position") + distance
            ),
        ],
        how="inner",
    )
    collected = tagged.groupBy(F.col("lc_studyLocusId").alias("studyLocusId")).agg(
        F.collect_list(_locus_struct(sumstats.columns)).alias("locus")
    )
    return study_locus.join(collected, on="studyLocusId", how="left")

