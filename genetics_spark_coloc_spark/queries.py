"""Driver-contract queries: one entry per implemented operator.

Each query has a Spark builder ``(spark, sf_dir) -> DataFrame`` and a
matching DuckDB oracle SQL string over the same parquet tables. The
genetics operators run on genetics-shaped inputs DERIVED
deterministically from the driver's synthetic tables (events), using
only arithmetic both engines evaluate identically; all floating-point
outputs are rounded to 6dp on BOTH sides so value hashes match.

Keep the derivations in `_sumstats` / `_tags` and the SQL CTEs
`SUMSTATS_SQL` / `TAGS_SQL` in lockstep — they are two spellings of
the same function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from genetics_spark_coloc_spark.functions.pvalue import neglog_pvalue, pvalue_pair_lte
from genetics_spark_coloc_spark.functions.reshape import melt
from genetics_spark_coloc_spark.operators import clumping, coloc, credible_sets, dedup, overlaps, similarity, text
from genetics_spark_coloc_spark.sources.tables import load_table

# ----------------------------------------------------------------------------
# shared derivations (Spark spelling)
# ----------------------------------------------------------------------------


def _sumstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GWAS-shaped summary statistics derived from `events`."""
    ev = load_table(spark, sf_dir, "events")
    chromosome = (1 + F.col("event_id") % 3).cast("string")
    position = (F.col("event_id") * 97 % 1000000).cast("int")
    return ev.select(
        F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias("studyId"),
        F.concat_ws("_", chromosome, position.cast("string"), F.lit("A"), F.lit("C")).alias(
            "variantId"
        ),
        chromosome.alias("chromosome"),
        position.alias("position"),
        (F.col("value") - 50.0).alias("beta"),
        (1.0 + (F.col("event_id") % 90) / 10.0).cast("float").alias("pValueMantissa"),
        (-(F.col("event_id") % 14) - 1).cast("int").alias("pValueExponent"),
    )


# identical derivation, DuckDB spelling
SUMSTATS_SQL = """
sumstats AS (
  SELECT 'S' || CAST(user_id % 5 AS VARCHAR)                                  AS studyId,
         CAST(1 + event_id % 3 AS VARCHAR) || '_' ||
           CAST(CAST((event_id * 97) % 1000000 AS INT) AS VARCHAR) || '_A_C'  AS variantId,
         CAST(1 + event_id % 3 AS VARCHAR)                                    AS chromosome,
         CAST((event_id * 97) % 1000000 AS INT)                               AS position,
         value - 50.0                                                         AS beta,
         CAST(1.0 + (event_id % 90) / 10.0 AS REAL)                           AS pValueMantissa,
         CAST(-(event_id % 14) - 1 AS INT)                                    AS pValueExponent
  FROM events
)
"""


def _tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credible-set tag rows (one per locus×tag) derived from `events`.

    Dedup per (locus, tag) by max score; posteriorProbability
    normalises scores within each locus (sums to exactly 1).
    """
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        F.concat(F.lit("L"), (F.col("user_id") % 10).cast("string")).alias("studyLocusId"),
        F.concat(F.lit("S"), (F.col("user_id") % 10).cast("string")).alias("studyId"),
        F.when(F.col("user_id") % 10 < 6, "gwas").otherwise("eqtl").alias("studyType"),
        (1 + F.col("user_id") % 2).cast("string").alias("chromosome"),
        F.concat(F.lit("v"), (F.col("event_id") % 40).cast("string")).alias("tagVariantId"),
        (1 + F.col("event_id") % 97).cast("long").alias("rawScore"),
        ((F.col("event_id") % 150) / 10.0).alias("logBF"),
        (F.col("value") - 50.0).alias("beta"),
    )
    deduped = raw.groupBy(
        "studyLocusId", "studyId", "studyType", "chromosome", "tagVariantId"
    ).agg(
        F.max("rawScore").alias("rawScore"),
        F.max("logBF").alias("logBF"),
        F.max("beta").alias("beta"),
    )
    w = Window.partitionBy("studyLocusId")
    return deduped.withColumn(
        "posteriorProbability",
        F.col("rawScore").cast("double") / F.sum("rawScore").over(w).cast("double"),
    ).drop("rawScore")


TAGS_SQL = """
tags_raw AS (
  SELECT 'L' || CAST(user_id % 10 AS VARCHAR)                       AS studyLocusId,
         'S' || CAST(user_id % 10 AS VARCHAR)                       AS studyId,
         CASE WHEN user_id % 10 < 6 THEN 'gwas' ELSE 'eqtl' END     AS studyType,
         CAST(1 + user_id % 2 AS VARCHAR)                           AS chromosome,
         'v' || CAST(event_id % 40 AS VARCHAR)                      AS tagVariantId,
         CAST(1 + event_id % 97 AS BIGINT)                          AS rawScore,
         (event_id % 150) / 10.0                                    AS logBF,
         value - 50.0                                               AS beta
  FROM events
),
tags_dedup AS (
  SELECT studyLocusId, studyId, studyType, chromosome, tagVariantId,
         MAX(rawScore) AS rawScore, MAX(logBF) AS logBF, MAX(beta) AS beta
  FROM tags_raw
  GROUP BY 1, 2, 3, 4, 5
),
tags AS (
  SELECT studyLocusId, studyId, studyType, chromosome, tagVariantId, logBF, beta,
         CAST(rawScore AS DOUBLE) /
           CAST(SUM(rawScore) OVER (PARTITION BY studyLocusId) AS DOUBLE) AS posteriorProbability
  FROM tags_dedup
)
"""

PAIRS_SQL = """
pairs AS (
  SELECT DISTINCT l.studyLocusId  AS leftStudyLocusId,
                  r.studyLocusId  AS rightStudyLocusId,
                  r.studyType     AS rightStudyType,
                  l.chromosome    AS chromosome
  FROM tags l
  JOIN tags r
    ON l.chromosome = r.chromosome
   AND l.tagVariantId = r.tagVariantId
   AND (r.studyType != 'gwas' OR l.studyLocusId > r.studyLocusId)
   AND l.studyType = 'gwas'
),
lt AS (
  SELECT p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType, p.chromosome,
         t.tagVariantId, t.posteriorProbability AS left_pp, t.logBF AS left_logBF,
         t.beta AS left_beta
  FROM pairs p JOIN tags t
    ON t.studyLocusId = p.leftStudyLocusId AND t.chromosome = p.chromosome
),
rt AS (
  SELECT p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType, p.chromosome,
         t.tagVariantId, t.posteriorProbability AS right_pp, t.logBF AS right_logBF,
         t.beta AS right_beta
  FROM pairs p JOIN tags t
    ON t.studyLocusId = p.rightStudyLocusId AND t.chromosome = p.chromosome
),
aligned AS (
  SELECT COALESCE(lt.leftStudyLocusId, rt.leftStudyLocusId)   AS leftStudyLocusId,
         COALESCE(lt.rightStudyLocusId, rt.rightStudyLocusId) AS rightStudyLocusId,
         COALESCE(lt.rightStudyType, rt.rightStudyType)       AS rightStudyType,
         COALESCE(lt.chromosome, rt.chromosome)               AS chromosome,
         COALESCE(lt.tagVariantId, rt.tagVariantId)           AS tagVariantId,
         lt.left_pp, lt.left_logBF, lt.left_beta,
         rt.right_pp, rt.right_logBF, rt.right_beta
  FROM lt
  FULL OUTER JOIN rt
    ON lt.leftStudyLocusId = rt.leftStudyLocusId
   AND lt.rightStudyLocusId = rt.rightStudyLocusId
   AND lt.rightStudyType = rt.rightStudyType
   AND lt.chromosome = rt.chromosome
   AND lt.tagVariantId = rt.tagVariantId
)
"""


def _overlaps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """study_locus_overlap rows built by the real overlap operator on
    derived loci (locus arrays assembled from tag rows)."""
    tag_rows = _tags(spark, sf_dir)
    study_locus = tag_rows.groupBy(
        "studyLocusId", "studyId", "studyType", "chromosome"
    ).agg(
        F.collect_list(
            F.struct(
                F.col("tagVariantId").alias("variantId"),
                F.col("posteriorProbability"),
                F.col("logBF"),
                F.col("beta"),
                F.lit(None).cast("float").alias("pValueMantissa"),
                F.lit(None).cast("int").alias("pValueExponent"),
            )
        ).alias("locus")
    ).withColumn("region", F.concat_ws(":", "chromosome", "studyLocusId"))
    return overlaps.find_overlaps(study_locus)


# ----------------------------------------------------------------------------
# the query registry
# ----------------------------------------------------------------------------


def q_pvalue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposed p-value threshold filter (SURVEY §2.2)."""
    ss = _sumstats(spark, sf_dir)
    return ss.filter(
        pvalue_pair_lte(F.col("pValueMantissa"), F.col("pValueExponent"), 5e-8)
    ).select("studyId", "variantId", "chromosome", "position", "pValueMantissa", "pValueExponent")


SQL_PVALUE_FILTER = f"""
WITH {SUMSTATS_SQL.strip()}
SELECT studyId, variantId, chromosome, position, pValueMantissa, pValueExponent
FROM sumstats
WHERE pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 5.0)
"""


def q_neglog_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-log10(p) from the (mantissa, exponent) pair (SURVEY §2.8)."""
    ss = _sumstats(spark, sf_dir)
    return ss.select(
        "studyId",
        "variantId",
        F.round(neglog_pvalue(F.col("pValueMantissa"), F.col("pValueExponent")), 6).alias(
            "negLogPValue"
        ),
    )


SQL_NEGLOG_PVALUE = f"""
WITH {SUMSTATS_SQL.strip()}
SELECT studyId, variantId,
       ROUND(-(log10(CAST(pValueMantissa AS DOUBLE)) + pValueExponent), 6) AS negLogPValue
FROM sumstats
"""


def q_window_clump_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster significant variants by gap > window; keep the most
    significant variant per cluster (SURVEY §2.5 peak clustering)."""
    ss = _sumstats(spark, sf_dir).filter(
        pvalue_pair_lte(F.col("pValueMantissa"), F.col("pValueExponent"), 1e-8)
    )
    clustered = clumping.cluster_peaks(ss, 50_000)
    w = Window.partitionBy("studyId", "chromosome", "cluster_id").orderBy(
        F.col("pValueExponent").asc(), F.col("pValueMantissa").asc(), F.col("position").asc()
    )
    return (
        clustered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("studyId", "chromosome", "position", "variantId", "pValueExponent")
    )


SQL_WINDOW_CLUMP_TOP1 = f"""
WITH {SUMSTATS_SQL.strip()},
significant AS (
  SELECT * FROM sumstats
  WHERE pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 1.0)
),
clustered AS (
  SELECT *,
         MAX(CASE WHEN gap IS NULL OR gap > 50000 THEN position END)
           OVER (PARTITION BY studyId, chromosome ORDER BY position
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cluster_start
  FROM (
    SELECT *, position - LAG(position) OVER (PARTITION BY studyId, chromosome ORDER BY position) AS gap
    FROM significant
  )
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY studyId, chromosome, cluster_start
           ORDER BY pValueExponent ASC, pValueMantissa ASC, position ASC) AS rn
  FROM clustered
)
SELECT studyId, chromosome, position, variantId, pValueExponent
FROM ranked WHERE rn = 1
"""


def q_window_clump_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full greedy window-based clumping (SURVEY §2.9 _prune_peak)."""
    ss = _sumstats(spark, sf_dir)
    return clumping.window_based_clumping(ss, distance=50_000, gwas_significance=1e-8).select(
        "studyId", "chromosome", "position", "variantId"
    )


# greedy selection via recursive CTE: walk candidates per cluster in
# significance order, carrying the accepted-lead list
SQL_WINDOW_CLUMP_GREEDY = f"""
WITH RECURSIVE {SUMSTATS_SQL.strip()},
significant AS (
  SELECT * FROM sumstats
  WHERE pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 1.0)
),
clustered AS (
  SELECT *,
         MAX(CASE WHEN gap IS NULL OR gap > 50000 THEN position END)
           OVER (PARTITION BY studyId, chromosome ORDER BY position
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cluster_start
  FROM (
    SELECT *, position - LAG(position) OVER (PARTITION BY studyId, chromosome ORDER BY position) AS gap
    FROM significant
  )
),
ranked AS (
  SELECT studyId, chromosome, cluster_start, position, variantId,
         ROW_NUMBER() OVER (
           PARTITION BY studyId, chromosome, cluster_start
           ORDER BY pValueExponent ASC, pValueMantissa ASC, position ASC) AS rn
  FROM clustered
),
greedy AS (
  SELECT studyId, chromosome, cluster_start, rn, [position] AS accepted
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.studyId, r.chromosome, r.cluster_start, r.rn,
         CASE WHEN len(list_filter(g.accepted, a -> abs(a - r.position) < 50000)) = 0
              THEN list_append(g.accepted, r.position)
              ELSE g.accepted END
  FROM greedy g
  JOIN ranked r
    ON r.studyId = g.studyId AND r.chromosome = g.chromosome
   AND r.cluster_start = g.cluster_start AND r.rn = g.rn + 1
),
final_accepted AS (
  SELECT studyId, chromosome, cluster_start, accepted,
         ROW_NUMBER() OVER (PARTITION BY studyId, chromosome, cluster_start ORDER BY rn DESC) AS rev
  FROM greedy
),
leads AS (
  SELECT studyId, chromosome, UNNEST(accepted) AS position
  FROM final_accepted WHERE rev = 1
)
SELECT l.studyId, l.chromosome, l.position,
       l.chromosome || '_' || CAST(l.position AS VARCHAR) || '_A_C' AS variantId
FROM leads l
"""


def q_locus_breaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locus-breaker clumping: variable-width loci + top variant
    (SURVEY §2.5)."""
    ss = _sumstats(spark, sf_dir)
    return clumping.locus_breaker(
        ss,
        baseline_pvalue_cutoff=1e-5,
        distance_cutoff=25_000,
        pvalue_cutoff=1e-8,
        flanking_distance=10_000,
    ).select("studyId", "chromosome", "position", "variantId", "locusStart", "locusEnd")


SQL_LOCUS_BREAKER = f"""
WITH {SUMSTATS_SQL.strip()},
baseline AS (
  SELECT *, -(log10(CAST(pValueMantissa AS DOUBLE)) + pValueExponent) AS negLogPValue
  FROM sumstats
  WHERE pValueExponent < -5 OR (pValueExponent = -5 AND pValueMantissa <= 1.0)
),
seg AS (
  SELECT *,
         GREATEST(
           MAX(CASE WHEN gap IS NULL OR gap > 25000 THEN position END)
             OVER (PARTITION BY studyId, chromosome ORDER BY position
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 10000,
           0) AS locusStart
  FROM (
    SELECT *, position - LAG(position) OVER (PARTITION BY studyId, chromosome ORDER BY position) AS gap
    FROM baseline
  )
),
bounded AS (
  SELECT *,
         MAX(position + 10000) OVER (PARTITION BY studyId, chromosome, locusStart) AS locusEnd
  FROM seg
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY studyId, chromosome, locusStart, locusEnd
           ORDER BY negLogPValue DESC, position ASC) AS rn
  FROM bounded
)
SELECT studyId, chromosome, position, variantId,
       CAST(locusStart AS INT) AS locusStart, CAST(locusEnd AS INT) AS locusEnd
FROM ranked
WHERE rn = 1 AND negLogPValue > 8.0
"""


def q_find_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locus-overlap detection with aligned tag statistics
    (SURVEY §2.3 self theta-join + outer align)."""
    ov = _overlaps_df(spark, sf_dir)
    return ov.select(
        "leftStudyLocusId",
        "rightStudyLocusId",
        "rightStudyType",
        "chromosome",
        "tagVariantId",
        F.round(F.col("statistics.left_posteriorProbability"), 6).alias("left_pp"),
        F.round(F.col("statistics.right_posteriorProbability"), 6).alias("right_pp"),
        F.round(F.col("statistics.left_logBF"), 6).alias("left_logBF"),
        F.round(F.col("statistics.right_logBF"), 6).alias("right_logBF"),
    )


SQL_FIND_OVERLAPS = f"""
WITH {TAGS_SQL.strip()},
{PAIRS_SQL.strip()}
SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome, tagVariantId,
       ROUND(left_pp, 6) AS left_pp, ROUND(right_pp, 6) AS right_pp,
       ROUND(left_logBF, 6) AS left_logBF, ROUND(right_logBF, 6) AS right_logBF
FROM aligned
"""


def q_ecaviar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eCAVIAR CLPP colocalisation (SURVEY §2.4)."""
    res = coloc.ecaviar(_overlaps_df(spark, sf_dir))
    return res.select(
        "leftStudyLocusId",
        "rightStudyLocusId",
        "rightStudyType",
        "chromosome",
        "numberColocalisingVariants",
        F.round("clpp", 6).alias("clpp"),
        F.round("betaRatioSignAverage", 6).alias("betaRatioSignAverage"),
    )


SQL_ECAVIAR = f"""
WITH {TAGS_SQL.strip()},
{PAIRS_SQL.strip()},
beta_ratio AS (
  SELECT leftStudyLocusId, rightStudyLocusId, chromosome,
         AVG(SIGN(left_beta / right_beta)) AS betaRatioSignAverage
  FROM aligned
  WHERE left_beta IS NOT NULL AND right_beta IS NOT NULL
    AND left_beta != 0 AND right_beta != 0
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         CAST(SUM(CASE WHEN left_pp IS NOT NULL AND right_pp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS numberColocalisingVariants,
         SUM(left_pp * right_pp) AS clpp
  FROM aligned
  GROUP BY 1, 2, 3, 4
)
SELECT a.leftStudyLocusId, a.rightStudyLocusId, a.rightStudyType, a.chromosome,
       a.numberColocalisingVariants, ROUND(a.clpp, 6) AS clpp,
       ROUND(b.betaRatioSignAverage, 6) AS betaRatioSignAverage
FROM agg a
LEFT JOIN beta_ratio b
  ON a.leftStudyLocusId = b.leftStudyLocusId
 AND a.rightStudyLocusId = b.rightStudyLocusId
 AND a.chromosome = b.chromosome
"""


def q_coloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOC h0-h4 posteriors (SURVEY §2.4/§2.9, logsumexp in log
    space)."""
    res = coloc.coloc(_overlaps_df(spark, sf_dir))
    return res.select(
        "leftStudyLocusId",
        "rightStudyLocusId",
        "rightStudyType",
        "chromosome",
        "numberColocalisingVariants",
        F.round("h0", 6).alias("h0"),
        F.round("h1", 6).alias("h1"),
        F.round("h2", 6).alias("h2"),
        F.round("h3", 6).alias("h3"),
        F.round("h4", 6).alias("h4"),
    )


SQL_COLOC = f"""
WITH {TAGS_SQL.strip()},
{PAIRS_SQL.strip()},
filled AS (
  SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         CASE WHEN left_pp IS NOT NULL AND right_pp IS NOT NULL THEN 1 ELSE 0 END AS is_both,
         COALESCE(left_logBF, 0.0)  AS lbf,
         COALESCE(right_logBF, 0.0) AS rbf,
         COALESCE(left_logBF, 0.0) + COALESCE(right_logBF, 0.0) AS sbf,
         COALESCE(left_pp, 0.0)  AS lpp,
         COALESCE(right_pp, 0.0) AS rpp
  FROM aligned
),
shifted AS (
  SELECT *,
         MAX(lbf) OVER w AS m1, MAX(rbf) OVER w AS m2, MAX(sbf) OVER w AS m12
  FROM filled
  WINDOW w AS (PARTITION BY leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome)
),
grouped AS (
  SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         CAST(SUM(is_both) AS BIGINT) AS numberColocalisingVariants,
         MAX(m1) + LN(SUM(EXP(lbf - m1)))  AS logsum1,
         MAX(m2) + LN(SUM(EXP(rbf - m2)))  AS logsum2,
         MAX(m12) + LN(SUM(EXP(sbf - m12))) AS logsum12,
         MAX(CASE WHEN is_both = 1 AND lpp > 0.5 AND rpp > 0.5 THEN 1 ELSE 0 END) AS any_high
  FROM shifted
  GROUP BY 1, 2, 3, 4
),
hyp AS (
  SELECT *,
         0.0 AS lh0,
         LN(1e-4) + logsum1 AS lh1,
         LN(1e-4) + logsum2 AS lh2,
         LN(1e-4) + LN(1e-4) +
           CASE WHEN logsum1 + logsum2 = logsum12 THEN 1e-10
                ELSE GREATEST(logsum1 + logsum2, logsum12) +
                     LN(EXP(logsum1 + logsum2 - GREATEST(logsum1 + logsum2, logsum12)) -
                        EXP(logsum12 - GREATEST(logsum1 + logsum2, logsum12)))
           END AS lh3,
         LN(1e-5) + logsum12 AS lh4
  FROM grouped
  WHERE numberColocalisingVariants > 5 OR any_high = 1
),
softmaxed AS (
  SELECT *,
         GREATEST(lh0, lh1, lh2, lh3, lh4) AS mx
  FROM hyp
)
SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
       numberColocalisingVariants,
       ROUND(EXP(lh0 - mx) / (EXP(lh0-mx)+EXP(lh1-mx)+EXP(lh2-mx)+EXP(lh3-mx)+EXP(lh4-mx)), 6) AS h0,
       ROUND(EXP(lh1 - mx) / (EXP(lh0-mx)+EXP(lh1-mx)+EXP(lh2-mx)+EXP(lh3-mx)+EXP(lh4-mx)), 6) AS h1,
       ROUND(EXP(lh2 - mx) / (EXP(lh0-mx)+EXP(lh1-mx)+EXP(lh2-mx)+EXP(lh3-mx)+EXP(lh4-mx)), 6) AS h2,
       ROUND(EXP(lh3 - mx) / (EXP(lh0-mx)+EXP(lh1-mx)+EXP(lh2-mx)+EXP(lh3-mx)+EXP(lh4-mx)), 6) AS h3,
       ROUND(EXP(lh4 - mx) / (EXP(lh0-mx)+EXP(lh1-mx)+EXP(lh2-mx)+EXP(lh3-mx)+EXP(lh4-mx)), 6) AS h4
FROM softmaxed
"""


def q_credible_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95/99% credible-set annotation via the array operator, reduced
    to order-insensitive per-locus aggregates (SURVEY §2.8)."""
    tag_rows = _tags(spark, sf_dir)
    study_locus = tag_rows.groupBy("studyLocusId").agg(
        F.collect_list(
            F.struct(
                F.col("tagVariantId").alias("variantId"),
                F.col("posteriorProbability"),
            )
        ).alias("locus")
    )
    annotated = credible_sets.annotate_credible_sets(study_locus)
    exploded = annotated.select(
        "studyLocusId", F.explode("locus").alias("tag")
    )
    return exploded.groupBy("studyLocusId").agg(
        F.sum(F.when(F.col("tag.is95CredibleSet"), 1).otherwise(0)).alias("n95"),
        F.sum(F.when(F.col("tag.is99CredibleSet"), 1).otherwise(0)).alias("n99"),
        F.round(
            F.sum(F.when(F.col("tag.is95CredibleSet"), F.col("tag.posteriorProbability")).otherwise(0.0)),
            6,
        ).alias("pp95"),
    )


SQL_CREDIBLE_SETS = f"""
WITH {TAGS_SQL.strip()},
cum AS (
  SELECT studyLocusId, posteriorProbability,
         COALESCE(SUM(posteriorProbability) OVER (
           PARTITION BY studyLocusId
           ORDER BY posteriorProbability DESC, tagVariantId
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix
  FROM tags
)
SELECT studyLocusId,
       CAST(SUM(CASE WHEN prefix < 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n95,
       CAST(SUM(CASE WHEN prefix < 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n99,
       ROUND(SUM(CASE WHEN prefix < 0.95 THEN posteriorProbability ELSE 0.0 END), 6) AS pp95
FROM cum
GROUP BY studyLocusId
"""


def q_sumstat_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-study sumstat QC aggregates (SURVEY §2.4)."""
    ss = _sumstats(spark, sf_dir)
    return ss.groupBy("studyId").agg(
        F.count(F.lit(1)).alias("nVariants"),
        F.round(F.avg("beta"), 6).alias("meanBeta"),
        F.round(F.stddev_samp("beta"), 6).alias("stdBeta"),
        F.sum(
            pvalue_pair_lte(F.col("pValueMantissa"), F.col("pValueExponent"), 5e-8).cast("long")
        ).alias("nSignificant"),
    )


SQL_SUMSTAT_QC = f"""
WITH {SUMSTATS_SQL.strip()}
SELECT studyId,
       CAST(COUNT(*) AS BIGINT) AS nVariants,
       ROUND(AVG(beta), 6) AS meanBeta,
       ROUND(STDDEV_SAMP(beta), 6) AS stdBeta,
       CAST(SUM(CASE WHEN pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 5.0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS nSignificant
FROM sumstats
GROUP BY studyId
"""


# --- LLM-data-pipeline layer -------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (training-data op)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id")


SQL_DEDUP_EXACT = """
SELECT md5(text) AS contentHash,
       MIN(doc_id) AS keeperId,
       CAST(COUNT(*) AS BIGINT) AS nCopies
FROM documents
GROUP BY md5(text)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (long format) over char shingles."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "text", "doc_id", num_perm=8)


SQL_MINHASH = """
WITH sh AS (
  SELECT DISTINCT doc_id AS docId,
         substr(lower(text), CAST(i AS INT) * 4 + 1, 8) AS shingle
  FROM documents CROSS JOIN range(0, 64) AS t(i)
  WHERE CAST(i AS INT) < CAST(FLOOR(LEAST(GREATEST((length(lower(text)) - 8) / 4 + 1, 1), 64)) AS INT)
),
hashed AS (
  SELECT docId, CAST(p AS INT) AS perm,
         substr(md5(shingle), CAST(p AS INT) * 3 + 1, 8) AS h
  FROM sh, range(0, 8) AS pt(p)
)
SELECT docId, perm, MIN(h) AS minHash
FROM hashed
GROUP BY docId, perm
"""


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, "text", "doc_id", num_perm=8, band_size=2)


SQL_LSH_PAIRS = """
WITH sh AS (
  SELECT DISTINCT doc_id AS docId,
         substr(lower(text), CAST(i AS INT) * 4 + 1, 8) AS shingle
  FROM documents CROSS JOIN range(0, 64) AS t(i)
  WHERE CAST(i AS INT) < CAST(FLOOR(LEAST(GREATEST((length(lower(text)) - 8) / 4 + 1, 1), 64)) AS INT)
),
hashed AS (
  SELECT docId, CAST(p AS INT) AS perm,
         substr(md5(shingle), CAST(p AS INT) * 3 + 1, 8) AS h
  FROM sh, range(0, 8) AS pt(p)
),
sig AS (
  SELECT docId, perm, MIN(h) AS minHash
  FROM hashed GROUP BY docId, perm
),
bands AS (
  SELECT docId, CAST(FLOOR(perm / 2) AS INT) AS bandIdx,
         md5(string_agg(minHash, '|' ORDER BY minHash)) AS bandHash
  FROM sig
  GROUP BY docId, CAST(FLOOR(perm / 2) AS INT)
)
SELECT DISTINCT l.docId AS leftId, r.docId AS rightId
FROM bands l
JOIN bands r ON l.bandIdx = r.bandIdx AND l.bandHash = r.bandHash AND l.docId < r.docId
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard similarity on deterministic pairs
    (consecutive doc ids)."""
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("leftId"))
    pairs = ids.withColumn("rightId", F.col("leftId") + 1).join(
        docs.select(F.col("doc_id").alias("rightId")), on="rightId"
    )
    return dedup.ngram_jaccard(docs, pairs, "text", "doc_id")


SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT DISTINCT doc_id AS docId,
         substr(lower(text), CAST(i AS INT) * 4 + 1, 8) AS shingle
  FROM documents CROSS JOIN range(0, 64) AS t(i)
  WHERE CAST(i AS INT) < CAST(FLOOR(LEAST(GREATEST((length(lower(text)) - 8) / 4 + 1, 1), 64)) AS INT)
),
pairs AS (
  SELECT a.doc_id AS leftId, b.doc_id AS rightId
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
inter AS (
  SELECT p.leftId, p.rightId, CAST(COUNT(*) AS DOUBLE) AS n_inter
  FROM pairs p
  JOIN sh l ON l.docId = p.leftId
  JOIN sh r ON r.docId = p.rightId AND r.shingle = l.shingle
  GROUP BY 1, 2
),
sizes AS (SELECT docId, COUNT(*) AS n FROM sh GROUP BY docId)
SELECT p.rightId, p.leftId,
       ROUND(COALESCE(i.n_inter, 0) / (sl.n + sr.n - COALESCE(i.n_inter, 0)), 6) AS jaccard
FROM pairs p
JOIN sizes sl ON sl.docId = p.leftId
JOIN sizes sr ON sr.docId = p.rightId
LEFT JOIN inter i ON i.leftId = p.leftId AND i.rightId = p.rightId
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality ratios per document."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        F.col("doc_id").alias("docId"),
        text.token_count(t).alias("nTokens"),
        text.char_count(t).alias("nChars"),
        F.round(text.punct_ratio(t), 6).alias("punctRatio"),
        F.round(text.uppercase_ratio(t), 6).alias("upperRatio"),
        F.round(text.stopword_ratio(t), 6).alias("stopRatio"),
        F.round(text.mean_token_length(t), 6).alias("meanTokLen"),
    )


SQL_TOKEN_STATS = """
WITH toks AS (
  SELECT doc_id AS docId, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\\s+') END AS tok,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS tok_lower
  FROM documents
)
SELECT docId,
       CAST(len(tok) AS BIGINT) AS nTokens,
       CAST(length(text) AS BIGINT) AS nChars,
       ROUND(CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END, 6) AS punctRatio,
       ROUND(CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END, 6) AS upperRatio,
       ROUND(CASE WHEN len(tok_lower) > 0
                  THEN CAST(len(list_filter(tok_lower,
                       x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) / len(tok_lower)
                  ELSE 0.0 END, 6) AS stopRatio,
       ROUND(CASE WHEN len(tok) > 0
                  THEN CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok)
                  ELSE 0.0 END, 6) AS meanTokLen
FROM toks
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("docId"),
        text.language_id(F.col("text")).alias("predictedLang"),
    )


SQL_LANGUAGE_ID = """
WITH scored AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS tok
  FROM documents
),
s AS (
  SELECT docId,
         len(list_filter(tok, x -> x IN ('der','die','und','das','ist'))) AS s_de,
         len(list_filter(tok, x -> x IN ('the','and','of','to','is')))    AS s_en,
         len(list_filter(tok, x -> x IN ('el','la','de','que','es')))     AS s_es,
         len(list_filter(tok, x -> x IN ('le','la','et','les','est')))    AS s_fr
  FROM scored
)
SELECT docId,
       CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS predictedLang
FROM s
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("docId"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
    )


SQL_FINGERPRINT = """
SELECT doc_id AS docId,
       md5(array_to_string(list_sort(list_distinct(
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END)), ' ')) AS fingerprint
FROM documents
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors.

    Runs :func:`similarity.cosine_topk` (6dp half-away rounding
    before ranking, smaller-id tie-break, junk-vector drops), the
    same BLAS kernel the production ``ivf_index mode=certify`` gate
    runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries_df, k=5)


SQL_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS queryId, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighborId, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
s AS (
  SELECT queryId, neighborId,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosineSim
  FROM q, c
  WHERE queryId != neighborId
),
ranked AS (
  SELECT queryId, neighborId, cosineSim,
         CAST(ROW_NUMBER() OVER (PARTITION BY queryId ORDER BY cosineSim DESC, neighborId ASC) AS INT) AS rank
  FROM s
)
SELECT queryId, neighborId, cosineSim, rank
FROM ranked WHERE rank <= 5
"""


# --- relational layer (reference §2.3/§2.4/§2.6 generic ops) -----------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation (groupBy/agg pipeline check)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 record per group via ranking window (SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").desc()
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


SQL_TOP1_PER_GROUP = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
  FROM lineitem
)
WHERE rn = 1
"""


def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt (SURVEY §2.4 long<->wide)."""
    li = load_table(spark, sf_dir, "lineitem")
    return melt(
        li,
        id_vars=["l_orderkey", "l_linenumber"],
        value_vars=["l_quantity", "l_extendedprice", "l_discount"],
    )


SQL_MELT = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


QUERIES: dict[str, callable] = {
    "pvalue_filter": q_pvalue_filter,
    "neglog_pvalue": q_neglog_pvalue,
    "window_clump_top1": q_window_clump_top1,
    "window_clump_greedy": q_window_clump_greedy,
    "locus_breaker": q_locus_breaker,
    "find_overlaps": q_find_overlaps,
    "ecaviar": q_ecaviar,
    "coloc": q_coloc,
    "credible_sets": q_credible_sets,
    "sumstat_qc": q_sumstat_qc,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lsh_pairs": q_lsh_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "token_stats": q_token_stats,
    "language_id": q_language_id,
    "fingerprint": q_fingerprint,
    "cosine_topk": q_cosine_topk,
    "pricing_summary": q_pricing_summary,
    "top1_per_group": q_top1_per_group,
    "melt_lineitem": q_melt,
}

ORACLES: dict[str, str] = {
    "pvalue_filter": SQL_PVALUE_FILTER,
    "neglog_pvalue": SQL_NEGLOG_PVALUE,
    "window_clump_top1": SQL_WINDOW_CLUMP_TOP1,
    "window_clump_greedy": SQL_WINDOW_CLUMP_GREEDY,
    "locus_breaker": SQL_LOCUS_BREAKER,
    "find_overlaps": SQL_FIND_OVERLAPS,
    "ecaviar": SQL_ECAVIAR,
    "coloc": SQL_COLOC,
    "credible_sets": SQL_CREDIBLE_SETS,
    "sumstat_qc": SQL_SUMSTAT_QC,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH,
    "lsh_pairs": SQL_LSH_PAIRS,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "token_stats": SQL_TOKEN_STATS,
    "language_id": SQL_LANGUAGE_ID,
    "fingerprint": SQL_FINGERPRINT,
    "cosine_topk": SQL_COSINE_TOPK,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top1_per_group": SQL_TOP1_PER_GROUP,
    "melt_lineitem": SQL_MELT,
}
