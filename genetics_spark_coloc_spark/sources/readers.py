"""Ingestion readers: GWAS-Catalog, FinnGen, eQTL-Catalogue, interval
sources — schema-enforced CSV/TSV scans + effect harmonisation.

Re-expresses reference src/gentropy/datasource/gwas_catalog/
summary_statistics.py:58-194 (column-presence dispatch across the two
GWAS-Catalog harmonisation eras), datasource/finngen/
summary_stats.py:39-96, datasource/eqtl_catalogue/finemapping.py:
262-325, datasource/intervals/andersson.py:24-46, and the effect
conversion helpers in common/utils.py:22-170.

Everything is a declarative scan + projection: explicit schemas so the
CSV parser prunes and malformed rows drop at the source
(mode=DROPMALFORMED), never in a later pass. Numeric casts at this boundary use try_cast:
under Spark 4 ANSI mode a plain cast would fail the whole scan on one
malformed cell (the reference ran Spark 3.5 non-ANSI where cast
returned null).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- p-values
def parse_pvalue_string(pv: Column) -> list[Column]:
    """P-value string -> (pValueMantissa float, pValueExponent int).

    Scientific-notation strings are split on 'e' (keeping sub-normal
    p like '5e-324' exact); plain decimals are decomposed numerically;
    a literal "0" maps to the smallest positive double, (2.2250738585,
    -308) (reference: common/utils.py parse_pvalue:123-169).
    """
    pv = F.when(pv == "0", F.lit("2.2250738585072014e-308")).otherwise(pv)
    lowered = F.lower(pv)
    has_e = lowered.contains("e")
    mantissa_sci = F.split(lowered, "e")[0].try_cast("float")
    exponent_sci = F.split(lowered, "e")[1].try_cast("integer")
    as_double = pv.try_cast("double")
    exponent_plain = F.floor(F.log10(as_double)).cast("integer")
    mantissa_plain = F.round(
        as_double / F.pow(F.lit(10.0), exponent_plain), 10
    ).cast("float")
    return [
        F.when(has_e, mantissa_sci).otherwise(mantissa_plain).alias("pValueMantissa"),
        F.when(has_e, exponent_sci).otherwise(exponent_plain).alias("pValueExponent"),
    ]


def neglog_pvalue_to_mantissa_and_exponent(neglog: Column) -> list[Column]:
    """-log10(p) -> (mantissa ∈ [1,10), exponent)
    (reference: common/spark_helpers.py:288-313).

    Rounds the mantissa to 10 decimals so CSV-roundtripped neglog
    values decompose to exact mantissas (5e-8 → 5.0); the unrounded
    reference arithmetic lives in
    ``functions.pvalue.neglog_pvalue_to_mantissa_and_exponent``."""
    exponent = (-F.ceil(neglog)).cast("integer")
    mantissa = F.round(F.pow(F.lit(10.0), F.ceil(neglog) - neglog), 10).cast("float")
    # integral neglog yields mantissa 10^0=1 exactly; domain stays [1,10)
    return [mantissa.alias("pValueMantissa"), exponent.alias("pValueExponent")]


# ---------------------------------------------------------------- effects
def convert_odds_ratio_to_beta(
    beta: Column, odds_ratio: Column, standard_error: Column
) -> list[Column]:
    """Harmonise effect to beta: keep beta when present, else ln(OR);
    SE kept only alongside a native beta
    (reference: common/utils.py:81-120)."""
    se = F.when(standard_error.isNotNull() & beta.isNotNull(), standard_error).alias(
        "standardError"
    )
    b = (
        F.when(beta.isNotNull(), beta)
        .when(odds_ratio.isNotNull(), F.log(odds_ratio))
        .alias("beta")
    )
    return [b, se]


def variant_type(ref: Column, alt: Column) -> Column:
    """'snp_c' (complementary base swap) | 'snp_n' | 'indel'
    (reference: common/harmonise.py variant typing)."""
    complementary = (
        ((ref == "A") & (alt == "T"))
        | ((ref == "T") & (alt == "A"))
        | ((ref == "G") & (alt == "C"))
        | ((ref == "C") & (alt == "G"))
    )
    return F.when(
        (F.length(ref) == 1) & (F.length(alt) == 1),
        F.when(complementary, "snp_c").otherwise("snp_n"),
    ).otherwise("indel")


def flip_allele(allele: Column) -> Column:
    """Reverse-complement a simple allele string (strand flip)."""
    return F.reverse(F.translate(allele, "ACGT", "TGCA"))


# ---------------------------------------------------------------- readers
def read_gwas_catalog_sumstats(
    spark: SparkSession, path: str, study_id: str
) -> DataFrame:
    """GWAS-Catalog harmonised TSV -> summary_statistics rows.

    Handles both harmonisation eras by column presence: hm_* columns
    (new) vs plain columns (old); p_value vs neg_log_10_p_value;
    beta vs odds_ratio vs hazard_ratio
    (reference: gwas_catalog/summary_statistics.py:58-194).
    """
    df = spark.read.csv(path, sep="\t", header=True)
    cols = df.columns

    def pick(*names: str) -> Column:
        for n in names:
            if n in cols:
                return F.col(n)
        return F.lit(None)

    chromosome = pick("hm_chrom", "chromosome").cast("string")
    position = pick("hm_pos", "base_pair_location").try_cast("integer")
    ref_allele = pick("hm_other_allele", "other_allele")
    alt_allele = pick("hm_effect_allele", "effect_allele")
    pvalue_cols = (
        parse_pvalue_string(F.col("p_value"))
        if "p_value" in cols
        else neglog_pvalue_to_mantissa_and_exponent(
            F.col("neg_log_10_p_value").cast("double")
        )
    )
    beta = pick("hm_beta", "beta").try_cast("double")
    odds_ratio = pick("hm_odds_ratio", "odds_ratio", "hazard_ratio").try_cast("double")
    standard_error = pick("standard_error").try_cast("double")

    return (
        df.select(
            F.lit(study_id).alias("studyId"),
            F.concat_ws("_", chromosome, position, ref_allele, alt_allele).alias(
                "variantId"
            ),
            chromosome.alias("chromosome"),
            position.alias("position"),
            *pvalue_cols,
            *convert_odds_ratio_to_beta(beta, odds_ratio, standard_error),
            pick("effect_allele_frequency")
            .try_cast("float")
            .alias("effectAlleleFrequencyFromSource"),
            pick("n").try_cast("integer").alias("sampleSize"),
        )
        .filter(F.col("position").isNotNull() & (F.col("beta") != 0))
        # median study ~200 MB, max 2.6 GB (reference :186-187)
        .repartition(20)
    )


FINNGEN_RAW_SCHEMA = T.StructType(
    [
        T.StructField("#chrom", T.StringType(), True),
        T.StructField("pos", T.StringType(), True),
        T.StructField("ref", T.StringType(), True),
        T.StructField("alt", T.StringType(), True),
        T.StructField("rsids", T.StringType(), True),
        T.StructField("nearest_genes", T.StringType(), True),
        T.StructField("pval", T.StringType(), True),
        T.StructField("mlogp", T.StringType(), True),
        T.StructField("beta", T.StringType(), True),
        T.StructField("sebeta", T.StringType(), True),
        T.StructField("af_alt", T.StringType(), True),
        T.StructField("af_alt_cases", T.StringType(), True),
        T.StructField("af_alt_controls", T.StringType(), True),
    ]
)


def read_finngen_sumstats(spark: SparkSession, path: str) -> DataFrame:
    """FinnGen TSV(.gz) -> summary_statistics rows; study id from the
    file name (reference: finngen/summary_stats.py:39-96)."""
    return (
        spark.read.schema(FINNGEN_RAW_SCHEMA)
        .option("delimiter", "\t")
        .csv(path, header=True)
        .filter(F.col("pos").try_cast("integer").isNotNull())
        .select(
            F.upper(
                F.regexp_extract(F.input_file_name(), r"([^/]+?)(\.tsv\.gz|\.gz|\.tsv)", 1)
            ).alias("studyId"),
            F.concat_ws("_", "#chrom", "pos", "ref", "alt").alias("variantId"),
            F.col("#chrom").alias("chromosome"),
            F.col("pos").try_cast("integer").alias("position"),
            *parse_pvalue_string(F.col("pval")),
            F.col("beta").try_cast("double").alias("beta"),
            F.col("sebeta").try_cast("double").alias("standardError"),
            F.col("af_alt").try_cast("float").alias("effectAlleleFrequencyFromSource"),
        )
        .filter(F.col("beta") != 0)
        .repartitionByRange(30, "chromosome", "position")
        .sortWithinPartitions("chromosome", "position")
    )


INTERVAL_SCHEMA = T.StructType(
    [
        T.StructField("chrom", T.StringType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("gene_id", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)


def read_intervals_bed(
    spark: SparkSession, path: str, datasource_id: str = "generic"
) -> DataFrame:
    """Enhancer↔gene interval BED/TSV, malformed rows dropped at scan
    (reference: intervals/andersson.py:24-46 DROPMALFORMED idiom)."""
    return (
        spark.read.schema(INTERVAL_SCHEMA)
        .option("delimiter", "\t")
        .option("mode", "DROPMALFORMED")
        .csv(path, header=True)
        .select(
            F.regexp_replace(F.col("chrom"), "chr", "").alias("chromosome"),
            F.col("start"),
            F.col("end"),
            F.col("gene_id").alias("geneId"),
            F.col("score"),
            F.lit(datasource_id).alias("datasourceId"),
            F.lit(None).cast("string").alias("biosampleId"),
        )
        .filter(F.col("geneId").isNotNull() & F.col("start").isNotNull())
    )


# ----------------------------------------------- regenie-style harmonisation
def read_regenie_sumstats(
    raw: DataFrame,
    annotation: DataFrame,
    *,
    colname_position: str,
    colname_allele0: str,
    colname_allele1: str,
    colname_beta: str,
    colname_se: str,
    colname_mlog10p: str,
    colname_a1freq: str | None = None,
    colname_info: str | None = None,
    colname_n: str | None = None,
) -> DataFrame:
    """Generic regenie/meta-analysis sumstats harmonisation
    (reference common/harmonise.py:10-191 via the thin source wrappers
    datasource/ukb_ppp_eur/summary_stats.py:38-52 and
    datasource/finngen_ukb_meta/summary_stats.py:41-53): map source
    column names onto the canonical shape, run the orientation-join
    harmonisation, decompose -log10(p) into the (mantissa, exponent)
    pair, and drop position-less / zero-beta rows."""
    from genetics_spark_coloc_spark.functions.pvalue import (
        neglog_pvalue_to_mantissa_and_exponent,
    )
    from genetics_spark_coloc_spark.operators.harmonise import harmonise_sumstats

    renames = {
        colname_position: "position",
        colname_allele0: "allele0",
        colname_allele1: "allele1",
        colname_beta: "beta",
    }
    if colname_a1freq:
        renames[colname_a1freq] = "a1freq"
    if colname_info:
        renames[colname_info] = "info"
    mapped = raw
    for src, dst in renames.items():
        mapped = mapped.withColumnRenamed(src, dst)
    mapped = mapped.withColumn("position", F.col("position").cast("integer"))

    harmonised = harmonise_sumstats(mapped, annotation)
    select_expr = [
        F.col("studyId"),
        F.col("chromosome"),
        F.col("variantId"),
        F.col("beta"),
        F.col("position"),
        *neglog_pvalue_to_mantissa_and_exponent(
            F.col(colname_mlog10p).cast("double")
        ),
        F.col(colname_se).cast("double").alias("standardError"),
    ]
    if colname_n:
        select_expr.append(F.col(colname_n).cast("integer").alias("sampleSize"))
    return harmonised.select(*select_expr).filter(
        F.col("position").isNotNull() & (F.col("beta") != 0)
    )


def read_ukb_ppp_sumstats(raw: DataFrame, annotation: DataFrame) -> DataFrame:
    """UKB-PPP (EUR) pQTL sumstats (reference
    datasource/ukb_ppp_eur/summary_stats.py:38-52 column map)."""
    return read_regenie_sumstats(
        raw,
        annotation,
        colname_position="GENPOS",
        colname_allele0="ALLELE0",
        colname_allele1="ALLELE1",
        colname_a1freq="A1FREQ",
        colname_info="INFO",
        colname_beta="BETA",
        colname_se="SE",
        colname_mlog10p="LOG10P",
        colname_n="N",
    )


def read_finngen_ukb_meta_sumstats(raw: DataFrame, annotation: DataFrame) -> DataFrame:
    """FinnGen×UKB meta-analysis sumstats (reference
    datasource/finngen_ukb_meta/summary_stats.py:41-53 column map)."""
    return read_regenie_sumstats(
        raw,
        annotation,
        colname_position="POS",
        colname_allele0="REF",
        colname_allele1="ALT",
        colname_beta="all_inv_var_meta_beta",
        colname_se="all_inv_var_meta_sebeta",
        colname_mlog10p="all_inv_var_meta_mlogp",
    )
