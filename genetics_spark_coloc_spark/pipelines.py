"""End-to-end composed pipelines — the engine's top-level API.

``coloc_pipeline`` is the reference's flagship flow (SURVEY §7.3):

    sumstats → significance filter → window clumping → collect locus
    statistics → ABF fine-mapping posteriors → credible-set flags →
    find_overlaps → eCAVIAR + COLOC → colocalisation table

Both sources go through the upstream chain (clumping to credible
sets) as one union, so each upstream operator plans and runs once.
The plan is cut once, at the credible-set study-locus table, with a
lazy ``localCheckpoint``: ``find_overlaps`` and the two methods are
planned over that small leaf instead of re-analysing the whole
upstream plan at every DataFrame call. Under AQE the cut runs the
upstream shuffle stages when ``coloc_pipeline`` is called; the rest
stays lazy until the caller's action. As with the clumping
checkpoint, a lost executor's blocks cannot be recomputed from
lineage: the next action fails instead.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.functions.pvalue import pvalue_pair_lte
from genetics_spark_coloc_spark.operators import coloc as coloc_ops
from genetics_spark_coloc_spark.operators import overlaps as overlap_ops
from genetics_spark_coloc_spark.operators.clumping import window_based_clumping
from genetics_spark_coloc_spark.operators.credible_sets import annotate_credible_sets
from genetics_spark_coloc_spark.operators.finemapping import finemap_abf
from genetics_spark_coloc_spark.operators.locus_statistics import annotate_locus_statistics

# the sumstats columns clumping and fine-mapping read
_SUMSTATS_COLS = [
    "studyId", "variantId", "chromosome", "position",
    "pValueMantissa", "pValueExponent", "beta", "standardError",
]


def _study_locus_id(study_id: str):
    return F.md5(F.concat_ws("|", study_id, "variantId"))


def _clump_and_finemap(
    sources: dict[str, tuple[DataFrame, float]], distance: int
) -> DataFrame:
    """One clump-and-fine-map pass over ``{studyType: (sumstats,
    significance)}`` sources unioned, each row filtered at its own
    source's cut-off.

    A study is (studyType, studyId): the clumping windows, the locus
    join and the fine-mapping window run on ``studyId`` qualified with
    the study type, so an id present in two sources stays two studies.
    ``studyId`` and ``studyLocusId`` are restored from the source's own
    id at the end.
    """
    sumstats = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            ss.select(*[c for c in _SUMSTATS_COLS if c in ss.columns])
            .withColumnRenamed("studyId", "sourceStudyId")
            .withColumn("studyType", F.lit(study_type))
            for study_type, (ss, _) in sources.items()
        ],
    ).withColumn("studyId", F.concat_ws(":", "studyType", "sourceStudyId"))
    significant = reduce(
        lambda a, b: a | b,
        [
            (F.col("studyType") == study_type)
            & pvalue_pair_lte(F.col("pValueMantissa"), F.col("pValueExponent"), cutoff)
            for study_type, (_, cutoff) in sources.items()
        ],
    )
    # the per-row cut-off has already filtered; the loosest one keeps
    # clumping's own significance filter a no-op
    leads = window_based_clumping(
        sumstats.filter(significant),
        distance,
        max(cutoff for _, cutoff in sources.values()),
    )
    loci = leads.select(
        _study_locus_id("studyId").alias("studyLocusId"),
        # a lead without a studyId collects no tags, as an unqualified
        # null key never joins
        F.when(F.col("sourceStudyId").isNotNull(), F.col("studyId")).alias("studyId"),
        "sourceStudyId",
        "studyType",
        "variantId",
        "chromosome",
        "position",
    )
    collected = annotate_locus_statistics(loci, sumstats, distance)
    # posterior per tag within each locus (needs standardError; fall
    # back to |beta|/|z|-free default when the source lacks SE)
    lead_cols = ["studyLocusId", "sourceStudyId", "studyType", "variantId", "chromosome", "position"]
    tags = collected.select(*lead_cols, F.explode_outer("locus").alias("tag"))
    has_se = "standardError" in sumstats.columns
    se = F.coalesce(F.col("tag.standardError"), F.lit(0.1)) if has_se else F.lit(0.1)
    finemapped = finemap_abf(
        tags.select(
            *lead_cols,
            F.col("tag.variantId").alias("tagVariantId"),
            F.col("tag.pValueMantissa").alias("tagPValueMantissa"),
            F.col("tag.pValueExponent").alias("tagPValueExponent"),
            F.coalesce(F.col("tag.beta"), F.lit(0.0)).alias("beta"),
            se.alias("standardError"),
        ),
        locus_col="studyLocusId",
    )
    rebuilt = finemapped.groupBy(*lead_cols).agg(
        F.collect_list(
            F.struct(
                F.col("tagVariantId").alias("variantId"),
                F.col("posteriorProbability"),
                F.col("logABF").alias("logBF"),
                # nullable, as annotate_credible_sets' optimised plan
                # makes it: a non-null field (the coalesce above) sets
                # the analysed schema apart from the optimised one, and
                # a checkpoint of the output then drops its size estimate
                F.when(F.col("beta").isNotNull(), F.col("beta")).alias("beta"),
                F.col("tagPValueMantissa").alias("pValueMantissa"),
                F.col("tagPValueExponent").alias("pValueExponent"),
            )
        ).alias("locus")
    )
    return annotate_credible_sets(
        rebuilt.select(
            _study_locus_id("sourceStudyId").alias("studyLocusId"),
            F.col("sourceStudyId").alias("studyId"),
            "variantId",
            "chromosome",
            "position",
            "locus",
            "studyType",
            F.concat_ws(":", "chromosome", F.col("position").cast("string")).alias("region"),
        )
    )


def clump_and_finemap(
    sumstats: DataFrame,
    distance: int = 500_000,
    gwas_significance: float = 1e-8,
    study_type: str = "gwas",
) -> DataFrame:
    """sumstats -> study_locus rows with fine-mapped ``locus`` arrays.

    Lead selection by greedy window clumping; per-locus tag collection
    via the binned range join; tag posteriors via Wakefield ABF;
    95/99% credible-set flags annotated.
    """
    return _clump_and_finemap({study_type: (sumstats, gwas_significance)}, distance)


def coloc_pipeline(
    gwas_sumstats: DataFrame,
    qtl_sumstats: DataFrame,
    distance: int = 500_000,
    gwas_significance: float = 1e-8,
    qtl_significance: float = 1e-5,
) -> DataFrame:
    """Full colocalisation: two sumstats sources in, one
    colocalisation table out (eCAVIAR + COLOC, unioned).

    Equal to ``clump_and_finemap`` on each source, unioned, then
    ``find_overlaps`` and both methods; the sources share one upstream
    pass and the plan is cut at the study-locus table (module doc).
    """
    study_locus = _clump_and_finemap(
        {
            "gwas": (gwas_sumstats, gwas_significance),
            "eqtl": (qtl_sumstats, qtl_significance),
        },
        distance,
    ).localCheckpoint(eager=False)
    overlaps = overlap_ops.find_overlaps(study_locus)
    ecav = coloc_ops.ecaviar(overlaps)
    cl = coloc_ops.coloc(overlaps)
    # one stacked colocalisation table; method-specific metrics null
    # on the other method's rows (matches the reference's single
    # colocalisation schema with optional h0-h4/clpp)
    return ecav.unionByName(cl, allowMissingColumns=True)


# QC flag strings used by the top-hits ingestion composition
# (reference dataset/study_locus.py:98,113 and study_index.py:53)
SUMSTATS_NOT_AVAILABLE_FLAG = (
    "Harmonized summary statistics are not available or empty"
)
TOP_HIT_FLAG = "Study locus from curated top hit"
AMBIGUOUS_STUDY_FLAG = "Association with ambiguous study"


def gwas_catalog_top_hits(
    studies: DataFrame,
    associations: DataFrame,
    distance: int = 500_000,
) -> "tuple[DataFrame, DataFrame]":
    """The composed GWAS-Catalog top-hit ingestion step (reference
    gwas_catalog_top_hits.py:17-40 wiring study_splitter.py:83-138 +
    study_index.py:650-661 + associations.py:1176-1235 +
    method/window_based_clumping.py:156-220 into one flow):

    1. split multi-trait studies on (studyId, subStudyDescription),
       resolving traits/EFOs and suffixing sub-study ids;
    2. study side: override ids/traits from the split mapping and
       flag every study SUMSTATS_NOT_AVAILABLE (top-hit studies have
       no harmonised sumstats by construction);
    3. association side: adopt the updated studyId, recompute the
       md5 studyLocusId, flag variants that map ambiguously within a
       study (>1 row per (studyId, variantId) — the reference's
       qc_ambiguous_study drops this result on the floor,
       associations.py:1209-1216 never assigns the withColumn; the
       documented intent is implemented here), flag every row
       TOP_HIT, and window-clump by ``distance`` with non-leads
       flagged WINDOW_CLUMPED (no significance filter: curated top
       hits are significant by construction, and clumped rows are
       flagged, not dropped — method/window_based_clumping.py:163-167).

    Scale shape: the split mapping is tiny (one row per sub-study) —
    it rides a lazy localCheckpoint (both output sides consume it)
    and broadcasts onto the association table; the only wide ops on
    the unbounded association side are the ambiguity window and the
    clumping cluster window, both partitioned by study keys.

    Returns ``(study_index, clumped_associations)``.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    from genetics_spark_coloc_spark.operators.annotation import (
        update_quality_flag,
    )
    from genetics_spark_coloc_spark.operators.study_locus_ops import (
        assign_study_locus_id,
    )
    from genetics_spark_coloc_spark.sources.gwas_catalog_assoc import (
        split_multi_trait_studies,
    )
    from genetics_spark_coloc_spark.sources.gwas_catalog_study_index import (
        update_study_id,
    )

    mapping = split_multi_trait_studies(studies, associations).localCheckpoint(
        eager=False
    )

    study_index = update_study_id(
        studies,
        mapping.select(
            "studyId",
            "updatedStudyId",
            "traitFromSource",
            "traitFromSourceMappedIds",
        ).distinct(),
    ).withColumn(
        "qualityControls", F.array(F.lit(SUMSTATS_NOT_AVAILABLE_FLAG))
    )

    assoc = (
        associations.join(
            F.broadcast(
                mapping.select(
                    "studyId", "subStudyDescription", "updatedStudyId"
                ).distinct()
            ),
            on=["studyId", "subStudyDescription"],
            how="left",
        )
        .withColumn("studyId", F.coalesce("updatedStudyId", "studyId"))
        .drop("subStudyDescription", "updatedStudyId")
        .withColumn("studyLocusId", assign_study_locus_id(["studyId", "variantId"]))
    )
    qc_base = (
        F.col("qualityControls")
        if "qualityControls" in assoc.columns
        else F.lit(None).cast("array<string>")
    )
    amb_w = Window.partitionBy("studyId", "variantId")
    assoc = assoc.withColumn(
        "qualityControls",
        update_quality_flag(
            qc_base,
            F.count("variantId").over(amb_w) > 1,
            AMBIGUOUS_STUDY_FLAG,
        ),
    ).withColumn(
        "qualityControls",
        update_quality_flag(
            F.col("qualityControls"), F.lit(True), TOP_HIT_FLAG
        ),
    )
    clumped = window_based_clumping(
        assoc, distance=distance, gwas_significance=1.0, drop_clumped=False
    )
    return study_index, clumped
