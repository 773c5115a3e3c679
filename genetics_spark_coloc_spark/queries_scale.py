"""Contract queries: QC regression, L2G matrix, sessionization,
multimodal plumbing, IVF ANN, and semi/anti relational joins.

Each Spark builder has a DuckDB oracle over the same parquet tables;
derivations are spelled identically on both sides and all floats are
rounded to 6dp before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.functions.arrays import harmonic_sum
from genetics_spark_coloc_spark.operators.l2g import assemble_feature_matrix
from genetics_spark_coloc_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    resize_metadata,
)
from genetics_spark_coloc_spark.operators.qc import pz_regression
from genetics_spark_coloc_spark.operators.sessions import sessionize
from genetics_spark_coloc_spark.operators.similarity import ivf_topk
from genetics_spark_coloc_spark.queries import SUMSTATS_SQL, TAGS_SQL, _tags
from genetics_spark_coloc_spark.sources.tables import load_table

# ----------------------------------------------------------------------------
# PZ regression (reference: method/sumstat_quality_controls.py PZ check)
# ----------------------------------------------------------------------------


def _sumstats_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sumstats WITH standardError, derived from events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias("studyId"),
        F.concat(F.lit("v"), F.col("event_id").cast("string")).alias("variantId"),
        (F.col("value") - 50.0).alias("beta"),
        (0.5 + (F.col("event_id") % 20) / 10.0).alias("standardError"),
        (1.0 + (F.col("event_id") % 90) / 10.0).cast("float").alias("pValueMantissa"),
        (-(F.col("event_id") % 14) - 1).cast("int").alias("pValueExponent"),
    )


SUMSTATS_SE_SQL = """
sumstats AS (
  SELECT 'S' || CAST(user_id % 5 AS VARCHAR)          AS studyId,
         'v' || CAST(event_id AS VARCHAR)             AS variantId,
         value - 50.0                                 AS beta,
         0.5 + (event_id % 20) / 10.0                 AS standardError,
         CAST(1.0 + (event_id % 90) / 10.0 AS REAL)   AS pValueMantissa,
         CAST(-(event_id % 14) - 1 AS INT)            AS pValueExponent
  FROM events
)
"""

# Acklam inverse-normal, identical to functions/pvalue._norm_ppf_upper
ACKLAM_Z_SQL = """
base AS (
  SELECT studyId, beta, standardError,
         EXP(LN(CAST(pValueMantissa AS DOUBLE)) + pValueExponent * LN(10)) / 2 AS q
  FROM sumstats
),
branches AS (
  SELECT studyId, beta, standardError, q,
         SQRT(-2 * LN(q)) AS t,
         q - 0.5 AS r,
         (q - 0.5) * (q - 0.5) AS s
  FROM base
),
z AS (
  SELECT studyId, beta, standardError,
         CASE WHEN q < 0.02425 THEN
           (((((-7.784894002430293e-03 * t + -3.223964580411365e-01) * t + -2.400758277161838e+00) * t
              + -2.549732539343734e+00) * t + 4.374664141464968e+00) * t + 2.938163982698783e+00)
           / ((((7.784695709041462e-03 * t + 3.224671290700398e-01) * t + 2.445134137142996e+00) * t
              + 3.754408661907416e+00) * t + 1)
         ELSE
           -((((((-3.969683028665376e+01 * s + 2.209460984245205e+02) * s + -2.759285104469687e+02) * s
              + 1.383577518672690e+02) * s + -3.066479806614716e+01) * s + 2.506628277459239e+00) * r)
           / (((((-5.447609879822406e+01 * s + 1.615858368580409e+02) * s + -1.556989798598866e+02) * s
              + 6.680131188771972e+01) * s + -1.328068155288572e+01) * s + 1)
         END AS zraw
  FROM branches
)
"""


def q_pz_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-study P-Z consistency regression (slope≈1, intercept≈0 for
    a well-harmonised study)."""
    out = pz_regression(_sumstats_se(spark, sf_dir))
    return out.select(
        "studyId",
        F.round("pzSlope", 6).alias("pzSlope"),
        F.round("pzIntercept", 6).alias("pzIntercept"),
        F.round("pzCorr", 6).alias("pzCorr"),
        "nVariants",
    )


SQL_PZ_REGRESSION = f"""
WITH {SUMSTATS_SE_SQL.strip()},
{ACKLAM_Z_SQL.strip()},
pts AS (
  SELECT studyId,
         CASE WHEN beta < 0 THEN -ABS(zraw) ELSE ABS(zraw) END AS zFromP,
         beta / standardError AS zFromBeta
  FROM z WHERE standardError > 0
),
agg AS (
  SELECT studyId,
         COVAR_POP(zFromP, zFromBeta) AS cov,
         VAR_POP(zFromP) AS varx,
         AVG(zFromP) AS meanx,
         AVG(zFromBeta) AS meany,
         CORR(zFromP, zFromBeta) AS pzCorr,
         COUNT(*) AS nVariants
  FROM pts GROUP BY studyId
)
SELECT studyId,
       ROUND(cov / varx, 6) AS pzSlope,
       ROUND(meany - (cov / varx) * meanx, 6) AS pzIntercept,
       ROUND(pzCorr, 6) AS pzCorr,
       CAST(nVariants AS BIGINT) AS nVariants
FROM agg
"""


# ----------------------------------------------------------------------------
# harmonic sum (reference: common/spark_helpers.py:853-888, L2G features)
# ----------------------------------------------------------------------------


def q_harmonic_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-locus harmonic sum of DESC-sorted posterior probabilities
    (the reference's neighbourhood-feature aggregation kernel)."""
    tags = _tags(spark, sf_dir)
    per_locus = tags.groupBy("studyLocusId").agg(
        F.sort_array(F.collect_list("posteriorProbability"), asc=False).alias("pps")
    )
    return per_locus.select(
        "studyLocusId",
        F.round(harmonic_sum(F.col("pps")), 6).alias("ppHarmonicSum"),
        F.size("pps").alias("nTags"),
    )


SQL_HARMONIC_SUM = f"""
WITH {TAGS_SQL.strip()},
ranked AS (
  SELECT studyLocusId, posteriorProbability,
         ROW_NUMBER() OVER (
           PARTITION BY studyLocusId ORDER BY posteriorProbability DESC
         ) AS i
  FROM tags
)
SELECT studyLocusId,
       ROUND(SUM(posteriorProbability / (CAST(i AS DOUBLE) * i)), 6) AS ppHarmonicSum,
       CAST(COUNT(*) AS INT) AS nTags
FROM ranked GROUP BY studyLocusId
"""


# ----------------------------------------------------------------------------
# L2G feature matrix: long -> wide pivot (reference:
# dataset/l2g_feature_matrix.py:57-108 + feature_factory long format)
# ----------------------------------------------------------------------------

_L2G_FEATURES = ["maxPosteriorProbability", "meanLogBF", "nTagsGene"]


def q_l2g_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature factory long format -> pivoted wide matrix with
    explicit pivot values (no discovery job) and 0.0 fill."""
    tags = _tags(spark, sf_dir).withColumn(
        "geneId",
        F.concat(
            F.lit("G"), (F.substring("tagVariantId", 2, 10).cast("int") % 5).cast("string")
        ),
    )
    per_gene = tags.groupBy("studyLocusId", "geneId").agg(
        F.round(F.max("posteriorProbability"), 6).alias("maxPosteriorProbability"),
        F.round(F.avg("logBF"), 6).alias("meanLogBF"),
        F.count(F.lit(1)).cast("double").alias("nTagsGene"),
    )
    long = per_gene.selectExpr(
        "studyLocusId",
        "geneId",
        "stack(3, 'maxPosteriorProbability', maxPosteriorProbability, "
        "'meanLogBF', meanLogBF, 'nTagsGene', nTagsGene) AS (featureName, featureValue)",
    )
    return assemble_feature_matrix(long, _L2G_FEATURES)


SQL_L2G_FEATURE_MATRIX = f"""
WITH {TAGS_SQL.strip()},
genes AS (
  SELECT studyLocusId,
         'G' || CAST(CAST(substr(tagVariantId, 2) AS INT) % 5 AS VARCHAR) AS geneId,
         posteriorProbability, logBF
  FROM tags
)
SELECT studyLocusId, geneId,
       ROUND(MAX(posteriorProbability), 6) AS maxPosteriorProbability,
       ROUND(AVG(logBF), 6) AS meanLogBF,
       CAST(COUNT(*) AS DOUBLE) AS nTagsGene
FROM genes GROUP BY studyLocusId, geneId
"""


# ----------------------------------------------------------------------------
# sessionization (training-data extension; streaming twin in
# streaming/pipelines.sessionize_stream)
# ----------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (30 min gap)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800)


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id AS userId, EPOCH(ts) AS epochS, value FROM events
),
marked AS (
  SELECT userId, epochS, value,
         CASE WHEN LAG(epochS) OVER w IS NULL THEN 1
              WHEN epochS - LAG(epochS) OVER w > 1800.0 THEN 1
              ELSE 0 END AS isNewSession
  FROM e WINDOW w AS (PARTITION BY userId ORDER BY epochS)
),
sessions AS (
  SELECT userId, epochS, value,
         SUM(isNewSession) OVER (
           PARTITION BY userId ORDER BY epochS
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sessionOrdinal
  FROM marked
)
SELECT userId, CAST(sessionOrdinal AS INT) AS sessionOrdinal,
       CAST(COUNT(*) AS BIGINT) AS nEvents,
       ROUND(SUM(value), 6) AS valueSum,
       ROUND(MAX(epochS) - MIN(epochS), 6) AS durationS
FROM sessions GROUP BY userId, sessionOrdinal
"""


# ----------------------------------------------------------------------------
# multimodal plumbing (training-data extension; decode stubbed, the
# Spark-side schema/batching is real — operators/multimodal.py)
# ----------------------------------------------------------------------------


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media rows derived from documents."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("mediaId"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("modality"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        (64 + (F.col("doc_id") * 37) % 1024).cast("int").alias("width"),
        (64 + (F.col("doc_id") * 53) % 768).cast("int").alias("height"),
        (500 + (F.col("doc_id") % 7) * 900).cast("int").alias("durationMs"),
    )


MEDIA_SQL = """
media AS (
  SELECT doc_id AS mediaId,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         LOWER(md5(COALESCE(text, ''))) AS payloadMd5,
         CAST(64 + (doc_id * 37) % 1024 AS INT) AS width,
         CAST(64 + (doc_id * 53) % 768 AS INT) AS height,
         CAST(500 + (doc_id % 7) * 900 AS INT) AS durationMs
  FROM documents
)
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (decode stubbed deterministically: md5-byte features)."""
    feats = extract_features(_media(spark, sf_dir), dim=4)
    out = feats.select(
        "mediaId",
        "modality",
        "decodeStatus",
        *[
            F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
            for i in range(4)
        ],
    )
    return out


# md5 hex pair i -> byte value via nibble lookup; feature_i = byte/256
_NIBBLE = "STRPOS('0123456789abcdef', SUBSTR(payloadMd5, {pos}, 1)) - 1"


def _feature_sql(i: int) -> str:
    hi = _NIBBLE.format(pos=2 * i + 1)
    lo = _NIBBLE.format(pos=2 * i + 2)
    return f"ROUND((({hi}) * 16 + ({lo})) / 256.0, 6) AS f{i}"


SQL_MULTIMODAL_FEATURES = f"""
WITH {MEDIA_SQL.strip()}
SELECT mediaId, modality, 'stubbed' AS decodeStatus,
       {", ".join(_feature_sql(i) for i in range(4))}
FROM media
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only resize plan: target dims computed without ever
    reading payload bytes (column pruning keeps blob pages cold)."""
    return resize_metadata(_media(spark, sf_dir), max_side=256)


SQL_MULTIMODAL_RESIZE = f"""
WITH {MEDIA_SQL.strip()},
scaled AS (
  SELECT mediaId, modality, width, height,
         LEAST(1.0, 256 / CAST(GREATEST(width, height) AS DOUBLE)) AS scale
  FROM media
)
SELECT mediaId, modality, width, height,
       CAST(ROUND(width * scale) AS INT) AS targetWidth,
       CAST(ROUND(height * scale) AS INT) AS targetHeight
FROM scaled
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for video rows: one row per sampled
    timestamp from duration metadata (every 250 ms)."""
    return frame_sample_plan(_media(spark, sf_dir), every_ms=250)


SQL_FRAME_SAMPLE = f"""
WITH {MEDIA_SQL.strip()}
SELECT mediaId, CAST(f.ts AS INT) AS frameTimestampMs
FROM media, LATERAL (
  SELECT UNNEST(GENERATE_SERIES(0, GREATEST(durationMs - 1, 0), 250)) AS ts
) f
WHERE modality = 'video'
"""


# ----------------------------------------------------------------------------
# IVF approximate nearest neighbours (scale path beyond LSH)
# ----------------------------------------------------------------------------


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus partitioned by nearest centroid (vec_id < 4 as
    deterministic centroids), exact top-3 within the probe cluster for
    query vectors (vec_id % 50 == 0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(emb, queries, centroids, k=3)


_COS_SQL = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

SQL_IVF_TOPK = f"""
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroidId, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 4
),
assign AS (
  SELECT vec_id, v, centroidId,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, centroidId ASC
         ) AS rnk
  FROM vec CROSS JOIN cent
),
members AS (SELECT vec_id, v, centroidId FROM assign WHERE rnk = 1),
q AS (
  SELECT vec_id AS queryId, v AS qv, centroidId
  FROM members WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.queryId, q.centroidId, m.vec_id AS neighborId,
         {_COS_SQL.format(a="qv", b="m.v")} AS cosineSim
  FROM q JOIN members m ON q.centroidId = m.centroidId AND m.vec_id != q.queryId
),
ranked AS (
  SELECT queryId, centroidId, neighborId, cosineSim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY queryId ORDER BY cosineSim DESC, neighborId ASC
         ) AS INT) AS rank
  FROM scored
)
SELECT queryId, centroidId, neighborId, cosineSim, rank
FROM ranked WHERE rank <= 3
"""


def q_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-5 per query (pq.exact_l2_topk) — the
    ground-truth kernel behind the ``ivfpq_index mode=certify``
    staleness gate (r13), oracle-certified on its own: one BLAS
    distance product per corpus batch against the query matrix,
    6dp-rounded before ranking, ties toward the smaller neighborId.

    ORACLE-FIXTURE SHAPE, not the production certify path: the
    ``vec_id % 50 == 0`` query sample grows proportionally with the
    corpus, so the exact side is O(n^2/50) — fine on the driver
    testdata, wrong in a pipeline. At scale use
    ``steps._sample_queries`` (fixed ``certify_queries`` sample), as
    ``steps._certify_ann_recall`` does.

    The kernel is the SAME one the production ``ivfpq_index
    mode=certify`` gate runs, so the oracle certifies the production
    shape."""
    from genetics_spark_coloc_spark.operators.pq import exact_l2_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return exact_l2_topk(emb, queries, k=5)


SQL_L2_TOPK = """
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS queryId, v AS qv FROM vec WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.queryId, w.vec_id AS neighborId,
         ROUND(list_sum(list_transform(range(len(qv)), d ->
           (qv[CAST(d AS INT) + 1] - w.v[CAST(d AS INT) + 1])
           * (qv[CAST(d AS INT) + 1] - w.v[CAST(d AS INT) + 1]))), 6)
           AS l2Dist
  FROM q JOIN vec w ON w.vec_id != q.queryId
),
ranked AS (
  SELECT queryId, neighborId, l2Dist,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY queryId ORDER BY l2Dist ASC, neighborId ASC
         ) AS INT) AS rank
  FROM scored
)
SELECT queryId, neighborId, l2Dist, rank FROM ranked WHERE rank <= 5
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF ANN (nprobe=1, vec_id < 4 centroids) against
    exact cosine top-5 — the metric behind the ``ivf_index``/
    ``ivfpq_index`` ``mode=certify`` staleness gate (r13), as a
    registry query with a full DuckDB oracle: per query |approx ∩
    exact| / |exact|, averaged over the query sample. One row
    (nQueries, avgRecall, minRecall); the join work is bounded by
    the top-k tables, never the corpus.

    ORACLE-FIXTURE SHAPE, not the production certify path: the
    ``vec_id % 50 == 0`` sample is proportional, so the exact side
    grows O(n^2/50) with the corpus. The production gate uses a FIXED
    ``certify_queries`` sample and BLAS ground truth — see
    ``steps._sample_queries`` / ``steps._certify_ann_recall``.

    The exact side uses :func:`cosine_topk`, the same BLAS kernel
    the production gate runs (oracle-checked on its own by the
    ``cosine_topk`` registry query)."""
    from genetics_spark_coloc_spark.operators.similarity import (
        cosine_topk,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    approx = ivf_topk(emb, queries, centroids, k=5, nprobe=1)
    exact = cosine_topk(emb, queries, k=5)
    return topk_recall(approx, exact)


SQL_ANN_RECALL = f"""
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroidId, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 4
),
assign AS (
  SELECT vec_id, v, centroidId,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, centroidId ASC
         ) AS rnk
  FROM vec CROSS JOIN cent
),
members AS (SELECT vec_id, v, centroidId FROM assign WHERE rnk = 1),
q AS (
  SELECT vec_id AS queryId, v AS qv, centroidId
  FROM members WHERE vec_id % 50 = 0
),
approx AS (
  SELECT queryId, neighborId FROM (
    SELECT q.queryId, m.vec_id AS neighborId,
           ROW_NUMBER() OVER (
             PARTITION BY q.queryId
             ORDER BY {_COS_SQL.format(a="qv", b="m.v")} DESC, m.vec_id ASC
           ) AS rank
    FROM q JOIN members m
      ON q.centroidId = m.centroidId AND m.vec_id != q.queryId
  ) WHERE rank <= 5
),
exact AS (
  SELECT queryId, neighborId FROM (
    SELECT q.queryId, w.vec_id AS neighborId,
           ROW_NUMBER() OVER (
             PARTITION BY q.queryId
             ORDER BY {_COS_SQL.format(a="qv", b="w.v")} DESC, w.vec_id ASC
           ) AS rank
    FROM q JOIN vec w ON w.vec_id != q.queryId
  ) WHERE rank <= 5
),
nx AS (SELECT queryId, COUNT(*) AS nExact FROM exact GROUP BY queryId),
nh AS (
  SELECT a.queryId, COUNT(*) AS nHit
  FROM approx a JOIN exact e
    ON a.queryId = e.queryId AND a.neighborId = e.neighborId
  GROUP BY a.queryId
),
perq AS (
  SELECT nx.queryId,
         COALESCE(nh.nHit, 0) / CAST(nx.nExact AS DOUBLE) AS recall
  FROM nx LEFT JOIN nh ON nx.queryId = nh.queryId
)
SELECT CAST(COUNT(*) AS BIGINT) AS nQueries,
       ROUND(AVG(recall), 6) AS avgRecall,
       ROUND(MIN(recall), 6) AS minRecall
FROM perq
"""


# ----------------------------------------------------------------------------
# relational semi / anti joins (reference §2.3: "semi" locus-breaker
# join, left_anti neighbourhood-gene join — generic relational form)
# ----------------------------------------------------------------------------


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape: per-priority count of orders with at least one
    line shipped after the order date (LEFT SEMI join)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    late = lineitem.filter(F.col("l_shipdate") > F.lit("1995-01-01")).select(
        "l_orderkey"
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_LATE_ORDER_PRIORITY = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > DATE '1995-01-01'
)
GROUP BY o_orderpriority
"""


def q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: per-brand count of parts never shipped in bulk
    (no lineitem with quantity >= 48)."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    bulk = lineitem.filter(F.col("l_quantity") >= 48).select("l_partkey")
    return (
        part.join(bulk, part.p_partkey == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


SQL_PARTS_NEVER_ORDERED = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 48
)
GROUP BY p_brand
"""


# ----------------------------------------------------------------------------
# as-of join (custom operator — operators/asof.py union+forward-fill)
# ----------------------------------------------------------------------------


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each 'view' event, the latest 'click' at-or-before it per
    user (point-in-time attribution via the as-of join operator)."""
    from genetics_spark_coloc_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.col("user_id").alias("userId"),
        F.col("epoch_s").alias("epochS"),
        "event_type",
        "value",
    )
    views = base.filter(F.col("event_type") == "view").select(
        "userId", "epochS", F.col("event_id").alias("viewEventId")
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "userId",
        "epochS",
        F.col("event_id").alias("clickEventId"),
        F.col("value").alias("clickValue"),
    )
    out = asof_join(
        views,
        clicks,
        on=["userId"],
        ts_col="epochS",
        payload_cols=["clickEventId", "clickValue"],
        tiebreak_col="clickEventId",
    )
    return out.select(
        "userId",
        "viewEventId",
        F.round("epochS", 6).alias("epochS"),
        F.col("asof_clickEventId").alias("clickEventId"),
        F.round("asof_clickValue", 6).alias("clickValue"),
    )


SQL_ASOF_ATTRIBUTION = """
WITH e AS (
  SELECT event_id, user_id AS userId, EPOCH(ts) AS epochS, event_type, value
  FROM events
),
u AS (
  SELECT userId, epochS, 1 AS side, CAST(0 AS BIGINT) AS tie,
         event_id AS viewEventId, CAST(NULL AS BIGINT) AS p_eid, CAST(NULL AS DOUBLE) AS p_val
  FROM e WHERE event_type = 'view'
  UNION ALL
  SELECT userId, epochS, 0, event_id, NULL, event_id, value
  FROM e WHERE event_type = 'click'
),
f AS (
  SELECT *,
         LAST_VALUE(p_eid IGNORE NULLS) OVER w AS asof_eid,
         LAST_VALUE(p_val IGNORE NULLS) OVER w AS asof_val
  FROM u
  WINDOW w AS (PARTITION BY userId ORDER BY epochS, side, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT userId, viewEventId, ROUND(epochS, 6) AS epochS,
       asof_eid AS clickEventId, ROUND(asof_val, 6) AS clickValue
FROM f WHERE side = 1
"""


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: hourly buckets × event_type with
    count/sum/avg/min/max (batch twin of the streaming tumbling-window
    aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("event_time")).cast("long")

    from genetics_spark_coloc_spark.functions.stats import round_scaled_half_away

    # DuckDB ROUND's algorithm spelled Spark-side (see the helper's
    # docstring — this query hit the F.round divergence at sf0.1)
    r6 = round_scaled_half_away

    return (
        ev.select(bucket.alias("bucketEpoch"), "event_type", "value")
        .groupBy("bucketEpoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("nEvents"),
            r6(F.sum("value")).alias("valueSum"),
            r6(F.avg("value")).alias("valueAvg"),
            r6(F.min("value")).alias("valueMin"),
            r6(F.max("value")).alias("valueMax"),
        )
    )


SQL_EVENT_ROLLUP = """
SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS bucketEpoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS nEvents,
       ROUND(SUM(value), 6) AS valueSum,
       ROUND(AVG(value), 6) AS valueAvg,
       ROUND(MIN(value), 6) AS valueMin,
       ROUND(MAX(value), 6) AS valueMax
FROM events
GROUP BY 1, 2
"""


def q_qc_flag_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC-flag array build + valid-rows filter (reference:
    dataset.py:204-250 valid_rows, :323-341 flag update): append enum
    flags under conditions, then keep rows whose flags don't overlap
    the invalid set; surviving rows carry their remaining flags."""
    from genetics_spark_coloc_spark.queries import _sumstats

    ss = _sumstats(spark, sf_dir)
    flagged = ss.withColumn(
        "qualityControls",
        F.filter(
            F.array(
                F.when(
                    (F.col("position") >= 100000) & (F.col("position") <= 200000),
                    F.lit("IN_MHC"),
                ),
                F.when(F.col("pValueExponent") > -3, F.lit("WEAK_SIGNAL")),
                F.when(F.col("beta") < -45.0, F.lit("EXTREME_BETA")),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    valid = flagged.filter(
        ~F.arrays_overlap(
            F.col("qualityControls"), F.array(F.lit("IN_MHC"), F.lit("EXTREME_BETA"))
        )
    )
    return valid.select(
        "studyId",
        "variantId",
        F.array_join("qualityControls", ",").alias("qcFlags"),
    )


SQL_QC_FLAG_ROWS = f"""
WITH {SUMSTATS_SQL.strip()},
flagged AS (
  SELECT studyId, variantId,
         list_filter([
           CASE WHEN position >= 100000 AND position <= 200000 THEN 'IN_MHC' END,
           CASE WHEN pValueExponent > -3 THEN 'WEAK_SIGNAL' END,
           CASE WHEN beta < -45.0 THEN 'EXTREME_BETA' END
         ], x -> x IS NOT NULL) AS qc
  FROM sumstats
)
SELECT studyId, variantId,
       COALESCE(list_aggregate(qc, 'string_agg', ','), '') AS qcFlags
FROM flagged
WHERE NOT list_has_any(qc, ['IN_MHC', 'EXTREME_BETA'])
"""


def q_explained_by_finemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC interval join: flag significant leads that fall inside a
    fine-mapped region (qc_explained_by_SuSiE shape, binned)."""
    from genetics_spark_coloc_spark.operators.study_locus_ops import (
        flag_explained_by_finemapping,
    )
    from genetics_spark_coloc_spark.queries import _sumstats
    from genetics_spark_coloc_spark.functions.pvalue import pvalue_pair_lte

    ss = _sumstats(spark, sf_dir)
    leads = ss.filter(
        pvalue_pair_lte(F.col("pValueMantissa"), F.col("pValueExponent"), 1e-10)
    ).select("studyId", "chromosome", "position", "variantId")
    ev = load_table(spark, sf_dir, "events")
    regions = (
        ev.filter(F.col("event_id") % 17 == 0)
        .select(
            F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias("studyId"),
            (1 + F.col("event_id") % 3).cast("string").alias("chromosome"),
            ((F.col("event_id") * 61) % 1000000).cast("int").alias("regionStart"),
        )
        .withColumn("regionEnd", F.col("regionStart") + 30000)
    )
    out = flag_explained_by_finemapping(leads, regions, bin_size=30000)
    return out.select(
        "studyId", "chromosome", "position", "variantId", "isExplainedByFinemapping"
    )


SQL_EXPLAINED_BY_FINEMAP = f"""
WITH {SUMSTATS_SQL.strip()},
leads AS (
  SELECT studyId, chromosome, position, variantId FROM sumstats
  WHERE pValueExponent < -10 OR (pValueExponent = -10 AND pValueMantissa <= 1.0)
),
regions AS (
  SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS studyId,
         CAST(1 + event_id % 3 AS VARCHAR) AS chromosome,
         CAST((event_id * 61) % 1000000 AS INT) AS regionStart,
         CAST((event_id * 61) % 1000000 + 30000 AS INT) AS regionEnd
  FROM events WHERE event_id % 17 = 0
)
SELECT l.studyId, l.chromosome, l.position, l.variantId,
       EXISTS (
         SELECT 1 FROM regions r
         WHERE r.studyId = l.studyId AND r.chromosome = l.chromosome
           AND l.position BETWEEN r.regionStart AND r.regionEnd
       ) AS isExplainedByFinemapping
FROM leads l
"""


def q_harmonise_sumstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allele harmonisation: orientation join, beta/EAF flip,
    palindromic-flip drop, 23→X, INFO filter (harmonise.py:10-170)."""
    from genetics_spark_coloc_spark.operators.harmonise import (
        annotation_both_orientations,
        harmonise_sumstats,
    )

    ev = load_table(spark, sf_dir, "events")
    bases = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    ca0 = F.element_at(bases, (F.col("event_id") % 4).cast("int") + 1)
    # %13 plants complementary pairs (A/T, C/G) so the palindromic
    # snp_c drop path is exercised
    ca1_idx = F.when(
        F.col("event_id") % 13 == 0, 3 - (F.col("event_id") % 4)
    ).otherwise((F.col("event_id") * 7 + 1) % 4).cast("int")
    ca1 = F.when(F.col("event_id") % 11 == 0, F.lit("AC")).otherwise(
        F.element_at(bases, ca1_idx + 1)
    )
    base = ev.select(
        F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias("studyId"),
        F.when(F.col("event_id") % 7 == 0, F.lit("23"))
        .otherwise((1 + F.col("event_id") % 3).cast("string"))
        .alias("rawChromosome"),
        (F.col("event_id") * 97 % 1000000).cast("int").alias("position"),
        ca0.alias("ca0"),
        ca1.alias("ca1"),
        (F.col("value") - 50.0).alias("beta"),
        (0.5 + (F.col("event_id") % 50) / 100.0).alias("info"),
        ((1 + F.col("event_id") % 98) / 100.0).alias("a1freq"),
        F.col("event_id"),
    ).filter(F.col("ca0") != F.col("ca1"))
    swap = F.col("event_id") % 5 == 0
    raw = base.select(
        "studyId",
        F.col("rawChromosome").alias("chromosome"),
        "position",
        F.when(swap, F.col("ca1")).otherwise(F.col("ca0")).alias("allele0"),
        F.when(swap, F.col("ca0")).otherwise(F.col("ca1")).alias("allele1"),
        "beta",
        "info",
        "a1freq",
    )
    canonical = (
        base.filter(F.col("event_id") % 2 == 0)
        .select(
            F.when(F.col("rawChromosome") == "23", "X")
            .otherwise(F.col("rawChromosome"))
            .alias("chromosome"),
            "position",
            F.col("ca0").alias("refAllele"),
            F.col("ca1").alias("altAllele"),
        )
        .distinct()
        .withColumn(
            "variantId",
            F.concat_ws("_", "chromosome", "position", "refAllele", "altAllele"),
        )
    )
    out = harmonise_sumstats(raw, annotation_both_orientations(canonical))
    return out.select(
        "studyId",
        "variantId",
        "chromosome",
        "position",
        "variantType",
        "direction",
        F.round("beta", 6).alias("beta"),
        F.round("effectAlleleFrequencyFromSource", 6).alias("eaf"),
    )


SQL_HARMONISE_SUMSTATS = """
WITH base AS (
  SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS studyId,
         CASE WHEN event_id % 7 = 0 THEN '23'
              ELSE CAST(1 + event_id % 3 AS VARCHAR) END AS rawChromosome,
         CAST((event_id * 97) % 1000000 AS INT) AS position,
         substr('ACGT', CAST(event_id % 4 AS INT) + 1, 1) AS ca0,
         CASE WHEN event_id % 11 = 0 THEN 'AC'
              ELSE substr('ACGT',
                CASE WHEN event_id % 13 = 0 THEN CAST(3 - event_id % 4 AS INT)
                     ELSE CAST((event_id * 7 + 1) % 4 AS INT) END + 1, 1) END AS ca1,
         value - 50.0 AS beta,
         0.5 + (event_id % 50) / 100.0 AS info,
         (1 + event_id % 98) / 100.0 AS a1freq,
         event_id
  FROM events
  WHERE substr('ACGT', CAST(event_id % 4 AS INT) + 1, 1) !=
        CASE WHEN event_id % 11 = 0 THEN 'AC'
             ELSE substr('ACGT',
               CASE WHEN event_id % 13 = 0 THEN CAST(3 - event_id % 4 AS INT)
                    ELSE CAST((event_id * 7 + 1) % 4 AS INT) END + 1, 1) END
),
raw AS (
  SELECT studyId,
         CASE WHEN rawChromosome = '23' THEN 'X' ELSE rawChromosome END AS chromosome,
         position,
         CASE WHEN event_id % 5 = 0 THEN ca1 ELSE ca0 END AS allele0,
         CASE WHEN event_id % 5 = 0 THEN ca0 ELSE ca1 END AS allele1,
         beta, info, a1freq
  FROM base
),
canonical AS (
  SELECT DISTINCT
         CASE WHEN rawChromosome = '23' THEN 'X' ELSE rawChromosome END AS chromosome,
         position, ca0 AS refAllele, ca1 AS altAllele
  FROM base WHERE event_id % 2 = 0
),
canon_id AS (
  SELECT *, chromosome || '_' || CAST(position AS VARCHAR) || '_' || refAllele
            || '_' || altAllele AS variantId
  FROM canonical
),
va AS (
  SELECT chromosome AS vaChromosome,
         chromosome || '_' || CAST(position AS VARCHAR) || '_' || refAllele
           || '_' || altAllele AS summaryStatsId,
         variantId, 'direct' AS direction
  FROM canon_id
  UNION ALL
  SELECT chromosome,
         chromosome || '_' || CAST(position AS VARCHAR) || '_' || altAllele
           || '_' || refAllele,
         variantId, 'flip'
  FROM canon_id
),
typed AS (
  SELECT *,
         CASE WHEN length(allele0) = 1 AND length(allele1) = 1 THEN
           CASE WHEN (allele0, allele1) IN (('A','T'),('T','A'),('G','C'),('C','G'))
                THEN 'snp_c' ELSE 'snp_n' END
         ELSE 'indel' END AS variantType,
         chromosome || '_' || CAST(position AS VARCHAR) || '_' || allele0
           || '_' || allele1 AS summaryStatsId
  FROM raw
  WHERE info >= 0.8
    AND LEAST(a1freq, 1 - a1freq) >= 0.0001
)
SELECT t.studyId, v.variantId, t.chromosome, t.position, t.variantType, v.direction,
       ROUND(CASE WHEN v.direction = 'flip' THEN -t.beta ELSE t.beta END, 6) AS beta,
       ROUND(CASE WHEN v.direction = 'flip' THEN 1 - t.a1freq ELSE t.a1freq END, 6) AS eaf
FROM typed t
JOIN va v ON t.chromosome = v.vaChromosome AND t.summaryStatsId = v.summaryStatsId
WHERE NOT (t.variantType = 'snp_c' AND v.direction = 'flip')
"""


def q_feature_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature missing-value (null-or-zero) rate over the feature
    matrix in ONE aggregation pass — the reference runs one count job
    per feature (l2g_feature_matrix.py:109-132)."""
    from genetics_spark_coloc_spark.operators.l2g import feature_missingness_rates

    matrix = q_l2g_feature_matrix(spark, sf_dir)
    out = feature_missingness_rates(matrix, _L2G_FEATURES)
    return out.select(
        "featureName", F.round("missingRate", 6).alias("missingRate")
    )


SQL_FEATURE_MISSINGNESS = f"""
WITH matrix AS ({{matrix_sql}})
SELECT featureName, ROUND(missingRate, 6) AS missingRate
FROM (
  SELECT 'maxPosteriorProbability' AS featureName,
         AVG(CASE WHEN maxPosteriorProbability IS NULL OR maxPosteriorProbability = 0
                  THEN 1.0 ELSE 0.0 END) AS missingRate FROM matrix
  UNION ALL
  SELECT 'meanLogBF',
         AVG(CASE WHEN meanLogBF IS NULL OR meanLogBF = 0 THEN 1.0 ELSE 0.0 END)
  FROM matrix
  UNION ALL
  SELECT 'nTagsGene',
         AVG(CASE WHEN nTagsGene IS NULL OR nTagsGene = 0 THEN 1.0 ELSE 0.0 END)
  FROM matrix
)
""".format(matrix_sql=SQL_L2G_FEATURE_MATRIX.strip())


SCALE_QUERIES = {
    "pz_regression": q_pz_regression,
    "feature_missingness": q_feature_missingness,
    "harmonic_sum": q_harmonic_sum,
    "l2g_feature_matrix": q_l2g_feature_matrix,
    "sessionize": q_sessionize,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "frame_sample": q_frame_sample,
    "ivf_topk": q_ivf_topk,
    "l2_topk": q_l2_topk,
    "ann_recall": q_ann_recall,
    "late_order_priority": q_late_order_priority,
    "parts_never_ordered": q_parts_never_ordered,
    "asof_attribution": q_asof_attribution,
    "event_rollup": q_event_rollup,
    "qc_flag_rows": q_qc_flag_rows,
    "explained_by_finemap": q_explained_by_finemap,
    "harmonise_sumstats": q_harmonise_sumstats,
}

SCALE_ORACLES = {
    "pz_regression": SQL_PZ_REGRESSION,
    "feature_missingness": SQL_FEATURE_MISSINGNESS,
    "harmonic_sum": SQL_HARMONIC_SUM,
    "l2g_feature_matrix": SQL_L2G_FEATURE_MATRIX,
    "sessionize": SQL_SESSIONIZE,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "frame_sample": SQL_FRAME_SAMPLE,
    "ivf_topk": SQL_IVF_TOPK,
    "l2_topk": SQL_L2_TOPK,
    "ann_recall": SQL_ANN_RECALL,
    "late_order_priority": SQL_LATE_ORDER_PRIORITY,
    "parts_never_ordered": SQL_PARTS_NEVER_ORDERED,
    "asof_attribution": SQL_ASOF_ATTRIBUTION,
    "event_rollup": SQL_EVENT_ROLLUP,
    "qc_flag_rows": SQL_QC_FLAG_ROWS,
    "explained_by_finemap": SQL_EXPLAINED_BY_FINEMAP,
    "harmonise_sumstats": SQL_HARMONISE_SUMSTATS,
}


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer TRAINING (operators/similarity.
    kmeans_lloyd): two deterministic Lloyd iterations over the
    embeddings table — BLAS-matmul assignment, single-shuffle
    elementwise-mean update, 6dp-rounded iteration state — emitting
    the final centroids long-form. The full trajectory is replayed by
    the DuckDB oracle, so the training loop itself is hash-checked,
    not just one assignment pass."""
    from genetics_spark_coloc_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, k=4, n_iter=2, dim=64)
    return out.select(
        "centroidId",
        "clusterSize",
        F.posexplode("embedding").alias("pos", "coord"),
    )


def _kmeans_avg_cols(src: str) -> str:
    return ",\n         ".join(
        f"ROUND(AVG({src}[{i + 1}]), 6) AS c{i}" for i in range(64)
    )


_KMEANS_LIST = "[" + ", ".join(f"c{i}" for i in range(64)) + "]"

SQL_KMEANS_CENTROIDS = f"""
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE len(embedding) = 64
),
seed AS (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 4),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv FROM seed
),
a1 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid ASC
         ) AS rnk
  FROM vec CROSS JOIN c0
),
u1 AS (
  SELECT cid, COUNT(*) AS cnt,
         {_kmeans_avg_cols("v")}
  FROM a1 WHERE rnk = 1 GROUP BY cid
),
c1 AS (SELECT cid, cnt, {_KMEANS_LIST} AS cv FROM u1),
a2 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid ASC
         ) AS rnk
  FROM vec CROSS JOIN c1
),
u2 AS (
  SELECT cid, COUNT(*) AS cnt,
         {_kmeans_avg_cols("v")}
  FROM a2 WHERE rnk = 1 GROUP BY cid
),
c2 AS (SELECT cid, cnt, {_KMEANS_LIST} AS cv FROM u2)
SELECT cid AS centroidId, cnt AS clusterSize,
       CAST(t.i AS INT) AS pos, cv[CAST(t.i AS INT) + 1] AS coord
FROM c2 CROSS JOIN range(0, 64) t(i)
"""

SCALE_QUERIES["kmeans_centroids"] = q_kmeans_centroids
SCALE_ORACLES["kmeans_centroids"] = SQL_KMEANS_CENTROIDS


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup): k-means
    partitions the embedding space, near-duplicate marking runs only
    within clusters (Σ cluster² instead of corpus² comparisons), and
    the keeper is the smallest id. Threshold 0.45 sits below the
    synthetic corpus's ~0.51 max pairwise cosine so duplicate marks
    actually occur. The oracle replays the ENTIRE composition —
    2-iteration k-means training, final assignment, within-cluster
    pair scoring — in one DuckDB statement."""
    from genetics_spark_coloc_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, k=8, n_iter=2, threshold=0.45, dim=64)
    return out.select(
        "vecId",
        "centroidId",
        "isDuplicate",
        "dupOf",
        F.round("maxSim", 6).alias("maxSim"),
    )


SQL_SEMANTIC_DEDUP = f"""
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE len(embedding) = 64
),
seed AS (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 8),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv FROM seed
),
a1 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid ASC
         ) AS rnk
  FROM vec CROSS JOIN c0
),
u1 AS (
  SELECT cid, COUNT(*) AS cnt,
         {_kmeans_avg_cols("v")}
  FROM a1 WHERE rnk = 1 GROUP BY cid
),
c1 AS (SELECT cid, {_KMEANS_LIST} AS cv FROM u1),
a2 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid ASC
         ) AS rnk
  FROM vec CROSS JOIN c1
),
u2 AS (
  SELECT cid, COUNT(*) AS cnt,
         {_kmeans_avg_cols("v")}
  FROM a2 WHERE rnk = 1 GROUP BY cid
),
c2 AS (SELECT cid, {_KMEANS_LIST} AS cv FROM u2),
a3 AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid ASC
         ) AS rnk
  FROM vec CROSS JOIN c2
),
mem AS (SELECT vec_id, v, cid FROM a3 WHERE rnk = 1),
pairs AS (
  SELECT a.vec_id AS vecId, b.vec_id AS otherId,
         {_COS_SQL.format(a="a.v", b="b.v")} AS sim
  FROM mem a JOIN mem b ON a.cid = b.cid AND b.vec_id < a.vec_id
),
best AS (
  SELECT vecId, MIN(otherId) AS dupOf, MAX(sim) AS maxSim
  FROM pairs WHERE sim >= 0.45 GROUP BY vecId
)
SELECT m.vec_id AS vecId, m.cid AS centroidId,
       best.dupOf IS NOT NULL AS isDuplicate,
       best.dupOf,
       ROUND(best.maxSim, 6) AS maxSim
FROM mem m LEFT JOIN best ON best.vecId = m.vec_id
"""

SCALE_QUERIES["semantic_dedup"] = q_semantic_dedup
SCALE_ORACLES["semantic_dedup"] = SQL_SEMANTIC_DEDUP


# ----------------------------------------------------------------------------
# product quantization: 100x index compression + ADC search
# ----------------------------------------------------------------------------

_PQ_D2 = (
    "ROUND(list_inner_product({a}, {a}) - 2 * list_inner_product({a}, {b})"
    " + list_inner_product({b}, {b}), 6)"
)

# shared oracle CTE chain: vectors, per-subspace slices, the first-16
# reduced-config codebook, and the argmin encoding (m=4 subspaces of
# 16 dims, k=16 codes) — mirrors operators/pq.codebooks_from_first_k
# + pq_encode exactly (same expanded squared-L2, same 6dp rounding,
# same smaller-code tie break)
_PQ_ENC_SQL = f"""
vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE len(embedding) = 64
),
sub AS (
  SELECT vec_id, s.i AS subspace,
         list_slice(v, s.i * 16 + 1, s.i * 16 + 16) AS sv
  FROM vec CROSS JOIN range(0, 4) s(i)
),
seed AS (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16),
cb AS (
  SELECT s.i AS subspace,
         ROW_NUMBER() OVER (PARTITION BY s.i ORDER BY vec_id) - 1 AS code,
         list_slice(v, s.i * 16 + 1, s.i * 16 + 16) AS cv
  FROM seed CROSS JOIN range(0, 4) s(i)
),
scored AS (
  SELECT sub.vec_id, sub.subspace, cb.code,
         ROW_NUMBER() OVER (
           PARTITION BY sub.vec_id, sub.subspace
           ORDER BY {_PQ_D2.format(a="sv", b="cv")} ASC, cb.code ASC
         ) AS rnk
  FROM sub JOIN cb ON sub.subspace = cb.subspace
),
enc AS (SELECT vec_id, subspace, code FROM scored WHERE rnk = 1)
"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding (operators/pq.pq_encode): every 64-dim embedding
    compressed to 4 subspace codes — one BLAS product per subspace
    per Arrow batch against the broadcast-closure codebook, no
    shuffle. The reduced-config codebook (first 16 vectors' slices,
    codebooks_from_first_k) makes the full encode hash-checkable;
    production trains via train_pq_codebooks. Long-form output so the
    codes themselves are the compared values."""
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = codebooks_from_first_k(emb, m=4, k=16, dim=64)
    enc = pq_encode(emb, cb)
    # posexplode_outer, NOT posexplode: the non-outer form plants an
    # implicit size()>0 filter under the Generate and Catalyst
    # duplicates the encode kernel into it — two ArrowEvalPython
    # passes over every batch; the outer form + a post-explode null
    # filter keeps the kernel evaluated exactly once
    return (
        enc.select(
            F.col("vid").alias("vecId"),
            F.posexplode_outer("codes").alias("subspace", "code"),
        )
        .filter(F.col("code").isNotNull())
    )


SQL_PQ_ENCODE = f"""
WITH {_PQ_ENC_SQL.strip()}
SELECT vec_id AS vecId, CAST(subspace AS INT) AS subspace,
       CAST(code AS INT) AS code
FROM enc
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-3 over PQ codes (operators/pq.
    pq_adc_topk): per query an exact 4×16 subspace-distance table,
    per candidate 4 integer gathers + a sum — the corpus pass reads
    only the (id, codes) index and emits per-batch top-k, so the
    final ranking shuffle is O(k·batches·|Q|). Queries are the
    vec_id % 100 == 0 vectors, matching the IVF query convention."""
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = codebooks_from_first_k(emb, m=4, k=16, dim=64)
    enc = pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_adc_topk(enc, cb, queries, k=3)


SQL_PQ_ADC_TOPK = f"""
WITH {_PQ_ENC_SQL.strip()},
q AS (SELECT vec_id AS queryId, v AS qv FROM vec WHERE vec_id % 100 = 0),
qsub AS (
  SELECT queryId, s.i AS subspace,
         list_slice(qv, s.i * 16 + 1, s.i * 16 + 16) AS qs
  FROM q CROSS JOIN range(0, 4) s(i)
),
tbl AS (
  SELECT queryId, qsub.subspace, cb.code,
         {_PQ_D2.format(a="qs", b="cv")} AS d2
  FROM qsub JOIN cb ON qsub.subspace = cb.subspace
),
adc AS (
  SELECT t.queryId, e.vec_id AS neighborId, ROUND(SUM(t.d2), 6) AS adcDist
  FROM enc e JOIN tbl t ON t.subspace = e.subspace AND t.code = e.code
  WHERE e.vec_id != t.queryId
  GROUP BY t.queryId, e.vec_id
),
ranked AS (
  SELECT queryId, neighborId, adcDist,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY queryId ORDER BY adcDist ASC, neighborId ASC
         ) AS INT) AS rank
  FROM adc
)
SELECT queryId, neighborId, adcDist, rank FROM ranked WHERE rank <= 3
"""

SCALE_QUERIES["pq_encode"] = q_pq_encode
SCALE_ORACLES["pq_encode"] = SQL_PQ_ENCODE
SCALE_QUERIES["pq_adc_topk"] = q_pq_adc_topk
SCALE_ORACLES["pq_adc_topk"] = SQL_PQ_ADC_TOPK


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (operators/pq.ivfpq_index + ivfpq_topk): coarse
    L2 assignment to the 4 deterministic centroids, PQ encoding of
    the RESIDUALS, then ADC top-3 within each query's probed list —
    the FAISS coarse+fine layout end to end, with the whole
    composition (assignment, residual, encoding, probe, ADC ranking)
    replayed by one DuckDB statement."""
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        ivfpq_index,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4)
    cb = codebooks_from_first_k(emb, m=4, k=16, dim=64)
    index = ivfpq_index(emb, centroids, cb)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_topk(index, centroids, cb, queries, k=3, nprobe=1)


_L2_SQL = (
    "ROUND(list_inner_product({a}, {a}) - 2 * list_inner_product({a}, {b})"
    " + list_inner_product({b}, {b}), 6)"
)

SQL_IVFPQ_TOPK = f"""
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE len(embedding) = 64
),
cent AS (
  SELECT vec_id AS centroidId, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 4
),
assign AS (
  SELECT vec_id, v, centroidId, cv,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY {_L2_SQL.format(a="v", b="cv")} ASC, centroidId ASC
         ) AS rnk
  FROM vec CROSS JOIN cent
),
member AS (
  SELECT vec_id, centroidId,
         list_transform(range(1, 65), i -> v[i] - cv[i]) AS rv
  FROM assign WHERE rnk = 1
),
seed AS (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16),
cb AS (
  SELECT s.i AS subspace,
         ROW_NUMBER() OVER (PARTITION BY s.i ORDER BY vec_id) - 1 AS code,
         list_slice(v, s.i * 16 + 1, s.i * 16 + 16) AS cbv
  FROM seed CROSS JOIN range(0, 4) s(i)
),
rsub AS (
  SELECT vec_id, centroidId, s.i AS subspace,
         list_slice(rv, s.i * 16 + 1, s.i * 16 + 16) AS rs
  FROM member CROSS JOIN range(0, 4) s(i)
),
encscore AS (
  SELECT rsub.vec_id, rsub.centroidId, rsub.subspace, cb.code,
         ROW_NUMBER() OVER (
           PARTITION BY rsub.vec_id, rsub.subspace
           ORDER BY {_L2_SQL.format(a="rs", b="cbv")} ASC, cb.code ASC
         ) AS rnk
  FROM rsub JOIN cb ON rsub.subspace = cb.subspace
),
enc AS (
  SELECT vec_id, centroidId, subspace, code FROM encscore WHERE rnk = 1
),
q AS (
  SELECT m.vec_id AS queryId, m.centroidId, m.rv AS qrv
  FROM member m WHERE m.vec_id % 100 = 0
),
qsub AS (
  SELECT queryId, centroidId, s.i AS subspace,
         list_slice(qrv, s.i * 16 + 1, s.i * 16 + 16) AS qs
  FROM q CROSS JOIN range(0, 4) s(i)
),
tbl AS (
  SELECT queryId, qsub.centroidId, qsub.subspace, cb.code,
         {_L2_SQL.format(a="qs", b="cbv")} AS d2
  FROM qsub JOIN cb ON qsub.subspace = cb.subspace
),
adc AS (
  SELECT t.queryId, t.centroidId, e.vec_id AS neighborId,
         ROUND(SUM(t.d2), 6) AS adcDist
  FROM enc e
  JOIN tbl t ON t.centroidId = e.centroidId
            AND t.subspace = e.subspace AND t.code = e.code
  WHERE e.vec_id != t.queryId
  GROUP BY t.queryId, t.centroidId, e.vec_id
),
ranked AS (
  SELECT queryId, centroidId, neighborId, adcDist,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY queryId ORDER BY adcDist ASC, neighborId ASC
         ) AS INT) AS rank
  FROM adc
)
SELECT queryId, centroidId, neighborId, adcDist, rank
FROM ranked WHERE rank <= 3
"""

SCALE_QUERIES["ivfpq_topk"] = q_ivfpq_topk
SCALE_ORACLES["ivfpq_topk"] = SQL_IVFPQ_TOPK


def q_sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of every embedding (operators/pq.
    sq8_encode) — long-form (one row per dimension) so the codes
    themselves are the compared values; per-vector scale rides along
    rounded to 6dp."""
    from genetics_spark_coloc_spark.operators.pq import sq8_encode

    emb = load_table(spark, sf_dir, "embeddings")
    enc = sq8_encode(emb)
    return (
        enc.select(
            F.col("vid").alias("vecId"),
            F.round("scale", 6).alias("scale"),
            F.posexplode_outer("codes").alias("pos", "code"),
        )
        .filter(F.col("code").isNotNull())
        .select("vecId", "pos", "code", "scale")
    )


SQL_SQ8_ENCODE = """
WITH vec AS (
  SELECT vec_id AS vecId, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
enc AS (
  SELECT vecId, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM vec
)
SELECT vecId,
       CAST(UNNEST(range(0, len(v))) AS INT) AS pos,
       CAST(CASE WHEN scale > 0
                 THEN floor(v[CAST(UNNEST(range(0, len(v))) AS INT) + 1] / scale + 0.5)
                 ELSE 0 END AS INT) AS code,
       ROUND(scale, 6) AS scale
FROM enc
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-3 search over SQ8 codes for the first 10
    vectors as queries (operators/pq.sq8_topk): corpus stays int8 +
    one scale, the float query dots against dequantized codes."""
    from genetics_spark_coloc_spark.operators.pq import sq8_encode, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    enc = sq8_encode(emb)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return sq8_topk(enc, queries_df, k=3)


SQL_SQ8_TOPK = """
WITH vec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
enc AS (
  SELECT vid, dim, m / 127.0 AS scale,
         CASE WHEN m > 0
              THEN list_transform(v, x -> CAST(floor(x / (m / 127.0) + 0.5) AS INT))
              ELSE list_transform(v, x -> 0) END AS codes
  FROM (
    SELECT vec_id AS vid, len(v) AS dim, v,
           list_max(list_transform(v, x -> abs(x))) AS m
    FROM vec
  )
),
q AS (
  SELECT vec_id AS queryId, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL
),
s AS (
  SELECT q.queryId, e.vid AS neighborId,
         ROUND(e.scale * list_dot_product(q.qv, list_transform(e.codes, c -> CAST(c AS DOUBLE))), 6) AS approxDot
  FROM q JOIN enc e ON e.vid != q.queryId AND len(q.qv) = e.dim
),
ranked AS (
  SELECT queryId, neighborId, approxDot,
         CAST(ROW_NUMBER() OVER (PARTITION BY queryId ORDER BY approxDot DESC, neighborId ASC) AS INT) AS rank
  FROM s
)
SELECT queryId, neighborId, approxDot, rank FROM ranked WHERE rank <= 3
"""

SCALE_QUERIES["sq8_encode"] = q_sq8_encode
SCALE_ORACLES["sq8_encode"] = SQL_SQ8_ENCODE
SCALE_QUERIES["sq8_topk"] = q_sq8_topk
SCALE_ORACLES["sq8_topk"] = SQL_SQ8_TOPK


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key over (l_partkey, l_suppkey)
    (functions/zorder.zorder_key): the write-time layout device that
    makes parquet min/max skipping effective on BOTH join dimensions
    at once. The key is exact fixed-point bit interleaving, so the
    oracle recomputes it with independent SQL bit operators. Output
    is the 200 smallest keys — a TakeOrderedAndProject, no global
    sort."""
    from genetics_spark_coloc_spark.functions.zorder import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            zorder_key([F.col("l_partkey"), F.col("l_suppkey")], bits=16).alias(
                "zkey"
            ),
        )
        .orderBy(F.asc("zkey"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(200)
    )


def _zorder_oracle_sql() -> str:
    from genetics_spark_coloc_spark.functions.zorder import zorder_key_sql

    key = zorder_key_sql(["l_partkey", "l_suppkey"], bits=16)
    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, {key} AS zkey
FROM lineitem
ORDER BY zkey ASC, l_orderkey ASC, l_linenumber ASC LIMIT 200
"""


SCALE_QUERIES["zorder_key"] = q_zorder_key
SCALE_ORACLES["zorder_key"] = _zorder_oracle_sql()


def q_nb_language_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multinomial Naive Bayes training on the documents
    corpus with lang labels (operators/nb.nb_train): top-5 tokens per
    label by count. NB is chosen as the oracle-checkable stand-in for
    the fastText-style curation classifiers: training is pure
    counting aggregation, so every smoothed log-likelihood is exact
    closed form."""
    from pyspark.sql import Window

    from genetics_spark_coloc_spark.operators.nb import nb_train

    docs = load_table(spark, sf_dir, "documents")
    model = nb_train(docs, label_col="lang", text_col="text", alpha=1.0)
    w = Window.partitionBy("label").orderBy(
        F.desc("tokenCount"), F.asc("token")
    )
    return (
        model.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "label", "token", "tokenCount", F.round("logLik", 6).alias("logLik")
        )
    )


SQL_NB_COMMON = r"""
tr AS (
  SELECT lang AS label,
         UNNEST(CASE WHEN length(trim(lower(text))) = 0 THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
  FROM documents
),
cnt AS (SELECT label, token, COUNT(*) AS tokenCount FROM tr GROUP BY 1, 2),
lt AS (SELECT label, COUNT(*) AS labelTokens FROM tr GROUP BY 1),
v AS (SELECT COUNT(DISTINCT token) AS vocabSize FROM tr),
model AS (
  SELECT cnt.label, cnt.token, cnt.tokenCount,
         LN((cnt.tokenCount + 1.0) / (lt.labelTokens + 1.0 * v.vocabSize)) AS logLik
  FROM cnt, lt, v WHERE cnt.label = lt.label
)
"""

SQL_NB_LANGUAGE_MODEL = (
    "WITH "
    + SQL_NB_COMMON
    + """
SELECT label, token, CAST(tokenCount AS BIGINT) AS tokenCount,
       ROUND(logLik, 6) AS logLik
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY tokenCount DESC, token ASC) AS rn
      FROM model)
WHERE rn <= 5
"""
)


def q_nb_language_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document against the trained NB model and keep
    the argmax label (operators/nb.nb_score): logPrior + per-token
    smoothed log-likelihood sums, unseen tokens at the label floor.
    The candidate set is |docs| x |labels| (never |docs| x |vocab|);
    model and priors ride as broadcasts; the argmax is a min_by
    aggregate on (-rounded score, label) — no window over the corpus."""
    from genetics_spark_coloc_spark.operators.nb import (
        nb_priors,
        nb_score,
        nb_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    model = nb_train(docs, label_col="lang", text_col="text", alpha=1.0)
    priors = nb_priors(docs, label_col="lang", alpha=1.0)
    return nb_score(docs, model, priors, id_col="doc_id", text_col="text")


SQL_NB_LANGUAGE_PREDICT = (
    "WITH "
    + SQL_NB_COMMON
    + r""",
floors AS (
  SELECT lt.label, LN(1.0 / (lt.labelTokens + 1.0 * v.vocabSize)) AS floorLik
  FROM lt, v
),
dt AS (
  SELECT doc_id AS docId,
         UNNEST(CASE WHEN length(trim(lower(text))) = 0 THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
  FROM documents
),
scored AS (
  SELECT dt.docId, f.label, SUM(COALESCE(m.logLik, f.floorLik)) AS tokenScore
  FROM dt CROSS JOIN floors f
  LEFT JOIN model m ON m.label = f.label AND m.token = dt.token
  GROUP BY 1, 2
),
pri AS (SELECT lang AS label, COUNT(*) AS docCount FROM documents GROUP BY 1),
pritot AS (SELECT SUM(docCount) AS n, COUNT(*) AS l FROM pri),
priors AS (
  SELECT label, LN((docCount + 1.0) / (n + 1.0 * l)) AS logPrior
  FROM pri, pritot
),
final AS (
  SELECT s.docId, s.label, ROUND(s.tokenScore + p.logPrior, 6) AS score
  FROM scored s JOIN priors p ON s.label = p.label
)
SELECT docId, label, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY docId
                                   ORDER BY score DESC, label ASC) AS rn
      FROM final)
WHERE rn = 1
"""
)

SCALE_QUERIES["nb_language_model"] = q_nb_language_model
SCALE_ORACLES["nb_language_model"] = SQL_NB_LANGUAGE_MODEL
SCALE_QUERIES["nb_language_predict"] = q_nb_language_predict
SCALE_ORACLES["nb_language_predict"] = SQL_NB_LANGUAGE_PREDICT


def q_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs (operators/multimodal.
    ahash_signature + ahash_near_dup_pairs): Arrow-batched feature
    extraction over the image payloads, 16-bit average-hash
    signatures (16 features = the md5 stub's full digest, so the
    engine-portable nibble oracle covers every bit), then the banded
    pigeonhole self-join for every pair within Hamming distance 3.
    Production uses 64-bit grids; 16 bits here is the largest width
    the cross-engine md5 mirror can certify bit-for-bit."""
    from genetics_spark_coloc_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        ahash_signature,
        extract_features,
    )

    imgs = _media(spark, sf_dir).filter(F.col("modality") == "image")
    feats = extract_features(imgs, dim=16)
    sigs = ahash_signature(feats)
    return ahash_near_dup_pairs(sigs, n_bits=16, max_hamming=3).orderBy(
        "mediaIdA", "mediaIdB"
    )


SQL_IMAGE_AHASH_PAIRS = f"""
WITH {MEDIA_SQL.strip()},
feats AS (
  SELECT mediaId,
         list_transform(range(0, 16), i ->
           ((strpos('0123456789abcdef', substr(payloadMd5, CAST(2*i+1 AS INT), 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(payloadMd5, CAST(2*i+2 AS INT), 1)) - 1) / 256.0
         ) AS f
  FROM media WHERE modality = 'image'
),
sigs AS (
  SELECT mediaId,
         CAST(list_sum(list_transform(range(0, 16), i ->
           CASE WHEN f[CAST(i+1 AS INT)] > list_sum(f) / 16.0
                THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT) AS sig
  FROM feats
)
SELECT a.mediaId AS mediaIdA, b.mediaId AS mediaIdB,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.mediaId < b.mediaId
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY mediaIdA, mediaIdB
"""

SCALE_QUERIES["image_ahash_pairs"] = q_image_ahash_pairs
SCALE_ORACLES["image_ahash_pairs"] = SQL_IMAGE_AHASH_PAIRS


# --------------------------------------------- bloom filter join pruning
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Bloom filter (operators/sketches.py): build a
    4096-bit 3-hash filter over BUILDING-segment customers, probe
    every ordering customer — no false negatives, measurable false
    positives; at scale the broadcastable position table prunes a
    fact-table join without shuffling the fact side."""
    from genetics_spark_coloc_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    bloom = bloom_build(building, F.col("c_custkey"), m_bits=4096, k=3)
    probed = bloom_probe(bloom, orders, F.col("o_custkey"), m_bits=4096, k=3)
    truth = building.select(
        F.col("c_custkey").cast("string").alias("key"),
        F.lit(True).alias("isBuilding"),
    ).distinct()
    return probed.join(truth, on="key", how="left").select(
        F.col("key").cast("long").alias("custkey"),
        "bloomPass",
        F.coalesce("isBuilding", F.lit(False)).alias("isBuilding"),
    )


SQL_BLOOM_SEMI_JOIN = """
WITH building AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
hashes AS (SELECT UNNEST([0, 1, 2]) AS i),
bloom AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || CAST(b.c_custkey AS VARCHAR)), 1, 15))::UBIGINT % 4096 AS pos
  FROM building b CROSS JOIN hashes h
),
probe_keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders),
probed AS (
  SELECT p.key, h.i,
         ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || p.key), 1, 15))::UBIGINT % 4096 AS pos
  FROM probe_keys p CROSS JOIN hashes h
),
verdict AS (
  SELECT p.key,
         COUNT(*) = SUM(CASE WHEN bl.pos IS NOT NULL THEN 1 ELSE 0 END) AS bloomPass
  FROM probed p LEFT JOIN bloom bl ON bl.pos = p.pos
  GROUP BY p.key
)
SELECT CAST(v.key AS BIGINT) AS custkey, v.bloomPass,
       COALESCE(b.c_custkey IS NOT NULL, FALSE) AS isBuilding
FROM verdict v LEFT JOIN building b ON CAST(b.c_custkey AS VARCHAR) = v.key
"""


# --------------------------------------------- grid quantile sketch
def q_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch (operators/sketches.py):
    one-pass per-(returnflag) price histograms, p50/p95/p99 read back
    with in-bin interpolation — the sort-free percentile path with a
    fixed one-bin-width error bound."""
    from genetics_spark_coloc_spark.operators.sketches import (
        grid_quantile_estimate,
        grid_quantile_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sketch = grid_quantile_sketch(
        li, F.col("l_extendedprice"), ["l_returnflag"], 0.0, 120000.0, 1024
    )
    return grid_quantile_estimate(
        sketch, ["l_returnflag"], [0.5, 0.95, 0.99], 0.0, 120000.0, 1024
    )


SQL_GRID_QUANTILES = """
WITH binned AS (
  SELECT l_returnflag,
         LEAST(1023, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) / 120000.0 * 1024) AS INT)
         )) AS bin
  FROM lineitem
),
sketch AS (
  SELECT l_returnflag, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, bin, cnt,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cumCnt,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS total
  FROM sketch
),
qs AS (SELECT UNNEST([0.5, 0.95, 0.99]) AS q),
sel AS (
  SELECT c.l_returnflag, q.q, c.bin, c.cnt, c.cumCnt, c.total,
         ROW_NUMBER() OVER (PARTITION BY c.l_returnflag, q.q ORDER BY c.bin) AS rn
  FROM cum c CROSS JOIN qs q
  WHERE c.cumCnt >= q.q * c.total
)
SELECT l_returnflag, q,
       ROUND(0.0 + (bin + 1.0 - (CAST(cumCnt AS DOUBLE) - q * total) / CAST(cnt AS DOUBLE))
                   * (120000.0 / 1024), 6) AS estValue
FROM sel WHERE rn = 1
"""

SCALE_QUERIES["bloom_semi_join"] = q_bloom_semi_join
SCALE_ORACLES["bloom_semi_join"] = SQL_BLOOM_SEMI_JOIN
SCALE_QUERIES["grid_quantiles"] = q_grid_quantiles
SCALE_ORACLES["grid_quantiles"] = SQL_GRID_QUANTILES


# ------------------------------------------- bloom join pruning, composed
def q_bloom_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Bloom join pruning (operators/sketches.bloom_prune;
    steps.py `bloom_prune`): build a 4096-bit 3-hash filter over
    BUILDING-segment customers, then prune the orders FACT table with
    k broadcast left-semi joins on the hashed bit positions — the
    fact side is never shuffled (plan-pinned in
    tests/test_plan_quality.py). Emits the surviving rows: every true
    BUILDING order plus the deterministic false positives, which the
    DuckDB oracle replays bit-for-bit via the same salted-md5 hash."""
    from genetics_spark_coloc_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    bloom = bloom_build(building, F.col("c_custkey"), m_bits=4096, k=3)
    pruned = bloom_prune(bloom, orders, F.col("o_custkey"), m_bits=4096, k=3)
    return pruned.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("totalprice"),
    )


SQL_BLOOM_PRUNE_SCAN = """
WITH building AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
hashes AS (SELECT UNNEST([0, 1, 2]) AS i),
bloom AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || CAST(b.c_custkey AS VARCHAR)), 1, 15))::UBIGINT % 4096 AS pos
  FROM building b CROSS JOIN hashes h
),
probed AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, h.i,
         ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || CAST(o.o_custkey AS VARCHAR)), 1, 15))::UBIGINT % 4096 AS pos
  FROM orders o CROSS JOIN hashes h
)
SELECT p.o_orderkey AS orderkey,
       ANY_VALUE(p.o_custkey) AS custkey,
       ANY_VALUE(p.o_totalprice) AS totalprice
FROM probed p JOIN bloom bl ON bl.pos = p.pos
GROUP BY p.o_orderkey
HAVING COUNT(*) = 3
"""

SCALE_QUERIES["bloom_prune_scan"] = q_bloom_prune_scan
SCALE_ORACLES["bloom_prune_scan"] = SQL_BLOOM_PRUNE_SCAN
