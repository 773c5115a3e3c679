"""Contract query: embedding-cosine near-duplicate detection — the
scale path (multi-band LSH candidates → exact cosine verify).

Completes the dedup family: exact (hash), MinHash+LSH (text),
SimHash (text bits), n-gram Jaccard (text sets), and this —
embedding-cosine near-dup. Candidates come from MULTI-BAND
hyperplane LSH (4 bands × 8 planes, OR-construction) so the
bucket-key cardinality scales with the corpus instead of capping at
2^planes, and the exact cosine only runs on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.similarity import (
    cosine_vec,
    lsh_cosine_candidates_banded,
)
from genetics_spark_coloc_spark.sources.tables import load_table
from genetics_spark_coloc_spark.functions.reshape import declared_single_partition


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs: any LSH band agreeing AND
    exact cosine >= 0.4 (threshold chosen to produce matches on the
    synthetic embeddings, whose max pairwise cosine is ~0.51)."""
    emb = load_table(spark, sf_dir, "embeddings")
    candidates = lsh_cosine_candidates_banded(emb, num_bands=4, planes_per_band=8)
    vecs = emb.select(F.col("vec_id"), F.col("embedding"))
    joined = (
        candidates.join(
            vecs.select(F.col("vec_id").alias("leftId"), F.col("embedding").alias("lv")),
            on="leftId",
        )
        .join(
            vecs.select(F.col("vec_id").alias("rightId"), F.col("embedding").alias("rv")),
            on="rightId",
        )
        .withColumn("cosineSim", F.round(cosine_vec(F.col("lv"), F.col("rv")), 6))
        .filter(F.col("cosineSim") >= 0.4)
    )
    return joined.select("leftId", "rightId", "matchBand", "cosineSim")


SQL_EMBEDDING_NEAR_DUP = """
WITH proj AS (
  SELECT e.vec_id AS docId, CAST(b AS INT) AS band, CAST(r AS INT) AS r,
         list_sum(list_transform(range(len(e.embedding)), d ->
           CAST(e.embedding[CAST(d AS INT) + 1] AS DOUBLE) *
           CASE WHEN substr(md5(CAST(b * 8 + r AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)
                     IN ('0','2','4','6','8','a','c','e')
                THEN 1.0 ELSE -1.0 END)) AS pr
  FROM embeddings e
  CROSS JOIN range(0, 4) tb(b)
  CROSS JOIN range(0, 8) tr(r)
),
hashes AS (
  SELECT docId, band,
         CAST(SUM(CASE WHEN pr > 0 THEN CAST(POWER(2, r) AS INT) ELSE 0 END) AS INT) AS bandHash
  FROM proj GROUP BY docId, band
),
pairs AS (
  SELECT l.docId AS leftId, r.docId AS rightId, CAST(MIN(l.band) AS INT) AS matchBand
  FROM hashes l
  JOIN hashes r ON l.band = r.band AND l.bandHash = r.bandHash AND l.docId < r.docId
  GROUP BY 1, 2
),
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT p.leftId, p.rightId, p.matchBand,
         ROUND(list_dot_product(lv.v, rv.v) /
               (sqrt(list_dot_product(lv.v, lv.v)) * sqrt(list_dot_product(rv.v, rv.v))), 6)
           AS cosineSim
  FROM pairs p
  JOIN vecs lv ON lv.vec_id = p.leftId
  JOIN vecs rv ON rv.vec_id = p.rightId
)
SELECT leftId, rightId, matchBand, cosineSim
FROM scored WHERE cosineSim >= 0.4
"""

NEARDUP_QUERIES = {"embedding_near_dup": q_embedding_near_dup}
NEARDUP_ORACLES = {"embedding_near_dup": SQL_EMBEDDING_NEAR_DUP}


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: MinHash-LSH candidate pairs →
    connected components (iterative min-label propagation with
    pointer-doubling, operators/graph.py) → keeper per cluster."""
    from genetics_spark_coloc_spark.operators import dedup
    from genetics_spark_coloc_spark.operators.graph import duplicate_clusters

    docs = load_table(spark, sf_dir, "documents")
    # NOT star=True here (r14): this corpus's buckets are small
    # (11.7k clique pairs over 50k docs), so the spanning-star edge
    # reduction saves little join volume while its longer intra-bucket
    # paths cost one extra convergence round — isolated 2×2 A/B
    # measured clique 5.0-5.1 s vs star 6.1 s. The star form pays off
    # on clique-heavy graphs (see q_delta_dedup_clusters' history
    # pairs: 154k → ~2k edges, measured faster).
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=8, band_size=2
    )
    return duplicate_clusters(docs, pairs)


# oracle: min reachable id via a recursive CTE over the symmetrized
# LSH pair graph — the exact fixpoint the iterative operator converges to
SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE sh AS (
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
),
pairs AS (
  SELECT DISTINCT l.docId AS leftId, r.docId AS rightId
  FROM bands l
  JOIN bands r ON l.bandIdx = r.bandIdx AND l.bandHash = r.bandHash AND l.docId < r.docId
),
edges AS (
  SELECT leftId AS src, rightId AS dst FROM pairs
  UNION
  SELECT rightId, leftId FROM pairs
),
comp(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, c.lab FROM comp c JOIN edges e ON e.src = c.id
),
final AS (
  SELECT id, MIN(lab) AS clusterId FROM comp GROUP BY id
),
sizes AS (
  SELECT clusterId, CAST(COUNT(*) AS BIGINT) AS clusterSize
  FROM final GROUP BY clusterId
)
SELECT f.id AS docId, f.clusterId, s.clusterSize,
       f.id = f.clusterId AS isKeeper
FROM final f JOIN sizes s USING (clusterId)
"""

NEARDUP_QUERIES["dedup_clusters"] = q_dedup_clusters
NEARDUP_ORACLES["dedup_clusters"] = SQL_DEDUP_CLUSTERS


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: duplicate word-bigram /
    trigram fraction per document (operators/text.ngram_repetition_ratio)."""
    from genetics_spark_coloc_spark.operators.text import ngram_repetition_ratio

    docs = load_table(spark, sf_dir, "documents")
    # name the ratios in a child projection so each n-gram build runs
    # once, not once per referencing expression
    staged = docs.select(
        F.col("doc_id").alias("docId"),
        ngram_repetition_ratio(F.col("text"), 2).alias("f2"),
        ngram_repetition_ratio(F.col("text"), 3).alias("f3"),
    )
    return staged.select(
        "docId",
        F.round("f2", 6).alias("dupBigramFrac"),
        F.round("f3", 6).alias("dupTrigramFrac"),
        ((F.col("f2") > 0.2) | (F.col("f3") > 0.18)).alias("isRepetitive"),
    )


SQL_REPETITION_STATS = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
grams AS (
  SELECT docId, len(t) AS nt,
         CASE WHEN len(t) - 1 >= 1
              THEN list_transform(range(0, len(t) - 1),
                                  i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
              ELSE [] END AS g2,
         CASE WHEN len(t) - 2 >= 1
              THEN list_transform(range(0, len(t) - 2),
                                  i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
              ELSE [] END AS g3
  FROM toks
),
fr AS (
  SELECT docId,
         CASE WHEN nt - 1 >= 1
              THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / (nt - 1)
              ELSE 0.0 END AS f2,
         CASE WHEN nt - 2 >= 1
              THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / (nt - 2)
              ELSE 0.0 END AS f3
  FROM grams
)
SELECT docId, ROUND(f2, 6) AS dupBigramFrac, ROUND(f3, 6) AS dupTrigramFrac,
       (f2 > 0.2 OR f3 > 0.18) AS isRepetitive
FROM fr
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/validation/test assignment
    (operators/text.hash_split) — reproducible across runs, engines,
    and partitionings, unlike randomSplit."""
    from genetics_spark_coloc_spark.operators.text import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("docId"),
        hash_split(F.col("doc_id")).alias("split"),
    )


SQL_HASH_SPLIT = """
WITH b AS (
  SELECT doc_id AS docId,
         CAST(('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS bucket
  FROM documents
)
SELECT docId,
       CASE WHEN bucket < 0.8 THEN 'train'
            WHEN bucket < 0.9 THEN 'validation'
            ELSE 'test' END AS split
FROM b
"""

NEARDUP_QUERIES["repetition_stats"] = q_repetition_stats
NEARDUP_ORACLES["repetition_stats"] = SQL_REPETITION_STATS
NEARDUP_QUERIES["hash_split"] = q_hash_split
NEARDUP_ORACLES["hash_split"] = SQL_HASH_SPLIT


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: global top-25 tokens by document
    frequency with deterministic tie-breaks — the exact heavy-hitters
    primitive under stopword-list construction and corpus drift
    monitoring. One explode + one groupBy; at 100 TB the count is a
    map-side-combined aggregation on the token key."""
    from genetics_spark_coloc_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id"), F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("docFreq"),
        F.count(F.lit(1)).alias("termFreq"),
    )
    from pyspark.sql.window import Window

    # orderBy + limit compiles to TakeOrderedAndProject (per-partition
    # top-k merged on the driver) — a global rank window would sort
    # the ENTIRE vocabulary on one partition; the rank is assigned on
    # the surviving 25 rows only
    top = counts.orderBy(
        F.col("docFreq").desc(), F.col("termFreq").desc(), F.col("token")
    ).limit(25)
    w = Window.partitionBy(declared_single_partition(F.col("token"))).orderBy(
        F.col("docFreq").desc(), F.col("termFreq").desc(), F.col("token")
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "token", "docFreq", "termFreq"
    )


SQL_TOP_TOKENS = """
WITH tok AS (
  SELECT doc_id,
         UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
  WHERE length(trim(lower(text))) > 0
),
counts AS (
  SELECT token,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docFreq,
         CAST(COUNT(*) AS BIGINT) AS termFreq
  FROM tok GROUP BY token
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY docFreq DESC, termFreq DESC, token) AS INT) AS rank,
       token, docFreq, termFreq
FROM counts
ORDER BY rank
LIMIT 25
"""

NEARDUP_QUERIES["top_tokens"] = q_top_tokens
NEARDUP_ORACLES["top_tokens"] = SQL_TOP_TOKENS


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate n-gram coverage (Lee et al. 2022's
    substring-duplication signal at 5-gram granularity): per doc, the
    fraction of word 5-gram occurrences shared with another document
    (operators/text.duplicate_ngram_coverage)."""
    from genetics_spark_coloc_spark.operators.text import duplicate_ngram_coverage

    docs = load_table(spark, sf_dir, "documents")
    out = duplicate_ngram_coverage(docs, "text", "doc_id", n=5)
    return out.select(
        "docId", "nGrams", F.round("dupGramCoverage", 6).alias("dupGramCoverage")
    )


SQL_DUP_NGRAM_COVERAGE = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
grams AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) - 4 >= 1
              THEN list_transform(range(0, len(t) - 4),
                                  i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
              ELSE [] END) AS g
  FROM toks
),
shared AS (
  SELECT g FROM (
    SELECT g, COUNT(DISTINCT docId) AS df FROM grams GROUP BY g
  ) WHERE df >= 2
),
cov AS (
  SELECT gr.docId,
         COUNT(*) AS nGrams,
         SUM(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) AS dup
  FROM grams gr LEFT JOIN shared s ON s.g = gr.g
  GROUP BY gr.docId
)
SELECT t.docId,
       COALESCE(c.nGrams, 0) AS nGrams,
       ROUND(COALESCE(CAST(c.dup AS DOUBLE) / c.nGrams, 0.0), 6) AS dupGramCoverage
FROM toks t LEFT JOIN cov c ON c.docId = t.docId
"""

NEARDUP_QUERIES["dup_ngram_coverage"] = q_dup_ngram_coverage
NEARDUP_ORACLES["dup_ngram_coverage"] = SQL_DUP_NGRAM_COVERAGE


def q_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style tokenizer cost accounting: GPT-2-ish regex
    pre-segmentation + a ceil(len/4)-per-pretoken token estimate
    (operators/text.pretoken_stats). The pattern is chosen for exact
    Java-regex / RE2 match parity."""
    from genetics_spark_coloc_spark.operators.text import pretoken_stats

    docs = load_table(spark, sf_dir, "documents")
    return pretoken_stats(docs, "text", "doc_id")


SQL_PRETOKEN_STATS = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9'']+|\s+'
         ) AS t
  FROM documents
)
SELECT docId,
       COALESCE(len(t), 0) AS nPretokens,
       COALESCE(CAST(list_sum(list_transform(t,
           x -> GREATEST(1, CAST(CEIL(length(x) / 4.0) AS BIGINT))
         )) AS BIGINT), 0) AS estBpeTokens
FROM toks
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the deterministic eval subset (doc_id % 97 == 0)
    — the standard n-gram-overlap decontamination for training
    corpora (operators/text.decontaminate)."""
    from genetics_spark_coloc_spark.operators.text import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(train, eval_df, "text", "doc_id", n=5)


SQL_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         UNNEST(CASE WHEN len(t) - 4 >= 1
              THEN list_transform(range(0, len(t) - 4),
                                  i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
              ELSE [] END) AS g
  FROM toks
),
eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
),
train_grams AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 != 0
),
matches AS (
  SELECT t.doc_id, COUNT(*) AS n
  FROM train_grams t JOIN eval_grams e ON e.g = t.g
  GROUP BY t.doc_id
)
SELECT d.doc_id AS docId,
       COALESCE(m.n, 0) AS nMatchingGrams,
       COALESCE(m.n, 0) >= 1 AS isContaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 97 != 0) d
LEFT JOIN matches m ON m.doc_id = d.doc_id
"""

NEARDUP_QUERIES["pretoken_stats"] = q_pretoken_stats
NEARDUP_ORACLES["pretoken_stats"] = SQL_PRETOKEN_STATS
NEARDUP_QUERIES["decontaminate"] = q_decontaminate
NEARDUP_ORACLES["decontaminate"] = SQL_DECONTAMINATE


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/text.tfidf_top_terms)."""
    from genetics_spark_coloc_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=3)


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id AS docId,
         UNNEST(CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END) AS term
  FROM documents
),
tf AS (
  SELECT docId, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
n AS (
  SELECT COUNT(DISTINCT doc_id) AS nDocs FROM documents
),
scored AS (
  SELECT t.docId, t.term,
         ROUND(t.tf * (LN((n.nDocs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf t JOIN dfreq d ON d.term = t.term CROSS JOIN n
)
SELECT docId, term, tfidf,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY docId
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3
"""

NEARDUP_QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
NEARDUP_ORACLES["tfidf_top_terms"] = SQL_TFIDF_TOP_TERMS


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (operators/text.char_entropy_stats) — the gibberish/boilerplate
    quality filter."""
    from genetics_spark_coloc_spark.operators.text import char_entropy_stats

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy_stats(docs, "text", "doc_id")


SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id AS docId, UNNEST(string_split(lower(text), '')) AS ch
  FROM documents WHERE text IS NOT NULL
),
counts AS (
  SELECT docId, ch, COUNT(*) AS n FROM chars WHERE ch != '' GROUP BY 1, 2
),
per_doc AS (
  SELECT docId, SUM(n) AS nChars,
         LN(SUM(n)) - SUM(n * LN(n)) / SUM(n) AS entropy
  FROM counts GROUP BY 1
)
SELECT d.doc_id AS docId,
       CAST(COALESCE(p.nChars, 0) AS BIGINT) AS nChars,
       ROUND(COALESCE(p.entropy, 0.0), 6) AS charEntropy
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p ON p.docId = d.doc_id
"""

NEARDUP_QUERIES["char_entropy"] = q_char_entropy
NEARDUP_ORACLES["char_entropy"] = SQL_CHAR_ENTROPY


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM pseudo-perplexity quality signal
    (operators/text.bigram_lm_score) — the CCNet-style perplexity
    filter (Wenzek et al. 2020) at bigram order, trained on the
    documents table itself: add-one-smoothed P(w|v) over the corpus
    vocabulary, mean log-prob and perplexity per document."""
    from genetics_spark_coloc_spark.operators.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, "text", "doc_id")


SQL_BIGRAM_LM = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (
  SELECT docId, g AS bigram, split_part(g, ' ', 1) AS lft
  FROM toks,
       UNNEST(CASE WHEN len(t) - 1 >= 1
              THEN list_transform(range(0, len(t) - 1),
                                  i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
              ELSE [] END) AS u(g)
),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS V FROM toks, UNNEST(t) AS tt(tok)
),
bc AS (SELECT bigram, COUNT(*) AS cB FROM occ GROUP BY bigram),
lc AS (SELECT lft, COUNT(*) AS cL FROM occ GROUP BY lft),
agg AS (
  SELECT o.docId,
         COUNT(*) AS nBigrams,
         AVG(LN((bc.cB + 1.0) / (lc.cL + v.V))) AS alp
  FROM occ o
  JOIN bc USING (bigram)
  JOIN lc USING (lft)
  CROSS JOIN vocab v
  GROUP BY o.docId
)
SELECT d.docId,
       COALESCE(a.nBigrams, 0) AS nBigrams,
       ROUND(a.alp, 6) AS avgLogProb,
       ROUND(EXP(-a.alp), 6) AS perplexity
FROM (SELECT DISTINCT doc_id AS docId FROM documents) d
LEFT JOIN agg a USING (docId)
"""

NEARDUP_QUERIES["bigram_lm"] = q_bigram_lm
NEARDUP_ORACLES["bigram_lm"] = SQL_BIGRAM_LM


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic downsampling
    (operators/text.stratified_hash_sample): rebalance the corpus mix
    by keeping 50% of English and 25% of unidentified-language
    documents (everything else intact), with md5-bucket membership so
    the sample is reproducible across engines."""
    from genetics_spark_coloc_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    out = text.stratified_hash_sample(
        docs,
        text.language_id(F.col("text")),
        rates={"en": 0.5, "und": 0.25},
        id_col="doc_id",
    )
    return out.select(
        F.col("doc_id").alias("docId"),
        F.col("stratum").alias("predictedLang"),
        F.col("samplingRate"),
    )


SQL_STRATIFIED_SAMPLE = """
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
),
lang AS (
  SELECT docId,
         CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
              WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predictedLang
  FROM s
),
rated AS (
  SELECT docId, predictedLang,
         CASE WHEN predictedLang = 'en' THEN 0.5
              WHEN predictedLang = 'und' THEN 0.25
              ELSE 1.0 END AS samplingRate,
         CAST(('0x' || substr(md5('sample-v1|' || CAST(docId AS VARCHAR)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS bucket
  FROM lang
)
SELECT docId, predictedLang, samplingRate
FROM rated WHERE bucket < samplingRate
"""

NEARDUP_QUERIES["stratified_sample"] = q_stratified_sample
NEARDUP_ORACLES["stratified_sample"] = SQL_STRATIFIED_SAMPLE


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/text.pii_stats /
    pii_redact): the privacy-filter step of a training-data pipeline.
    The synthetic corpus carries no PII, so the query plants a
    deterministic mix of emails, IPv4s and long digit runs on a
    doc_id-keyed subset — counts and the redacted text are then
    hash-checked exactly against the DuckDB spelling of the same
    patterns."""
    from genetics_spark_coloc_spark.operators.text import pii_redact, pii_stats

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    planted = docs.select(
        k.alias("docId"),
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                k % 7 == 0,
                F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                k % 11 == 0,
                F.concat(F.lit(" from 10.0."), (k % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                k % 13 == 0,
                F.concat(F.lit(" ref 9"), (k * 137).cast("string"), F.lit("00012345")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    stats = pii_stats(F.col("text"))
    return planted.select(
        "docId",
        stats["email"].alias("nEmails"),
        stats["ipv4"].alias("nIpv4"),
        stats["longDigits"].alias("nLongDigitRuns"),
        (
            (stats["email"] + stats["ipv4"] + stats["longDigits"]) > 0
        ).alias("hasPii"),
        pii_redact(F.col("text")).alias("redactedText"),
    )


SQL_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id AS docId,
         COALESCE(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' ref 9' || CAST(doc_id * 137 AS VARCHAR) || '00012345'
                 ELSE '' END AS text
  FROM documents
)
SELECT docId,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS nEmails,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS nIpv4,
       CAST(len(regexp_extract_all(text, '\d{9,}')) AS BIGINT) AS nLongDigitRuns,
       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        + len(regexp_extract_all(text, '\d{9,}'))) > 0 AS hasPii,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\d{9,}', '<NUM>', 'g') AS redactedText
FROM planted
"""

NEARDUP_QUERIES["pii_scrub"] = q_pii_scrub
NEARDUP_ORACLES["pii_scrub"] = SQL_PII_SCRUB


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher / MassiveWeb quality-rule family (Rae et
    al. 2021, Appendix A) as one auditable shuffle-free projection
    (operators/text.gopher_quality): per-rule booleans + the keep
    verdict. min_words lowered to 20 so the synthetic corpus (docs of
    ~20-45 words) exercises both outcomes of the word-count rule."""
    from genetics_spark_coloc_spark.operators.text import gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality(docs, "text", "doc_id", min_words=20)


SQL_GOPHER_QUALITY = r"""
WITH base AS (
  SELECT doc_id AS docId, COALESCE(text, '') AS text FROM documents
),
feat AS (
  SELECT docId, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS t,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS tl,
         string_split(text, chr(10)) AS lines
  FROM base
),
m AS (
  SELECT docId,
         len(t) AS nWords,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS meanLen,
         length(text) - length(regexp_replace(text, '#', '', 'g'))
           + len(regexp_extract_all(text, '\.\.\.')) AS nSymbols,
         len(lines) AS nLines,
         len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS bulletLines,
         len(list_filter(lines, x -> regexp_matches(x, '\.\.\.\s*$'))) AS ellipsisLines,
         len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS alphaWords,
         len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS stopHits
  FROM feat
)
SELECT docId,
       nWords >= 20 AND nWords <= 100000                            AS okWordCount,
       meanLen >= 3.0 AND meanLen <= 10.0                           AS okMeanWordLen,
       CASE WHEN nWords > 0
            THEN CAST(nSymbols AS DOUBLE) / nWords <= 0.1 ELSE FALSE END AS okSymbolRatio,
       CASE WHEN nLines > 0
            THEN CAST(bulletLines AS DOUBLE) / nLines <= 0.1 ELSE FALSE END AS okBulletLines,
       CASE WHEN nLines > 0
            THEN CAST(ellipsisLines AS DOUBLE) / nLines <= 0.3 ELSE FALSE END AS okEllipsisLines,
       CASE WHEN nWords > 0
            THEN CAST(alphaWords AS DOUBLE) / nWords >= 0.8 ELSE FALSE END AS okAlphaWords,
       stopHits >= 2                                                AS okStopwords,
       (nWords >= 20 AND nWords <= 100000)
         AND (meanLen >= 3.0 AND meanLen <= 10.0)
         AND (CASE WHEN nWords > 0 THEN CAST(nSymbols AS DOUBLE) / nWords <= 0.1 ELSE FALSE END)
         AND (CASE WHEN nLines > 0 THEN CAST(bulletLines AS DOUBLE) / nLines <= 0.1 ELSE FALSE END)
         AND (CASE WHEN nLines > 0 THEN CAST(ellipsisLines AS DOUBLE) / nLines <= 0.3 ELSE FALSE END)
         AND (CASE WHEN nWords > 0 THEN CAST(alphaWords AS DOUBLE) / nWords >= 0.8 ELSE FALSE END)
         AND (stopHits >= 2)                                        AS keep
FROM m
"""

NEARDUP_QUERIES["gopher_quality"] = q_gopher_quality
NEARDUP_ORACLES["gopher_quality"] = SQL_GOPHER_QUALITY


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-level repetition signals (operators/text.
    duplicate_line_stats): duplicate-line fraction and duplicate-line
    character fraction. The newline-free synthetic corpus is chunked
    into 2-token lines first (pure array expressions on both
    engines), so exact line repeats actually occur (~3% of lines)
    and the fractions discriminate."""
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_line_stats,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    n_chunks = F.ceil(F.size(toks) / 2.0).cast("int")
    # linear-time chunking: zip even- and odd-position tokens (a
    # per-chunk slice would be O(tokens²)); a trailing odd token
    # stands alone. Zero-token documents fabricate ONE empty line on
    # both engines.
    evens = F.filter(toks, lambda x, i: i % 2 == 0)
    odds = F.filter(toks, lambda x, i: i % 2 == 1)
    pairs = F.zip_with(
        evens,
        odds,
        lambda a, b: F.when(b.isNull(), a).otherwise(
            F.concat(a, F.lit(" "), b)
        ),
    )
    fabricated = F.when(
        n_chunks > 0, F.array_join(pairs, "\n")
    ).otherwise(F.lit(""))
    # materialize the fabricated text ONCE per row: Catalyst's
    # projection collapse would otherwise re-inline the O(tokens²)
    # chunking into every downstream reference of the line array
    # (~6× inside the sorted-runs stats), which measured 36 s at
    # sf0.1 vs ~1 s with the barrier. Real newline-bearing corpora
    # skip the fabrication entirely and need no barrier.
    fab = docs.select(
        F.col("doc_id").alias("docId"), fabricated.alias("fabText")
    ).localCheckpoint(eager=False)
    stats = duplicate_line_stats(F.col("fabText"))
    return fab.select(
        "docId",
        stats["nLines"].alias("nLines"),
        F.round(stats["dupLineFrac"], 6).alias("dupLineFrac"),
        F.round(stats["dupLineCharFrac"], 6).alias("dupLineCharFrac"),
    )


SQL_LINE_REPETITION = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(COALESCE(text, '')))) = 0 THEN []
              ELSE string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') END AS t
  FROM documents
),
lines AS (
  -- zero-token documents fabricate ONE empty line, matching the
  -- Spark side's split('') = [''] behaviour
  SELECT docId,
         CASE WHEN len(t) = 0 THEN ['']
              ELSE list_transform(range(0, CAST(CEIL(len(t) / 2.0) AS BIGINT)),
                        i -> array_to_string(list_slice(t, i*2+1, i*2+2), ' ')) END AS l
  FROM toks
),
occ AS (
  SELECT docId, l,
         list_transform(l, ln -> len(list_filter(l, x -> x = ln))) AS c
  FROM lines
)
SELECT docId,
       CAST(len(l) AS BIGINT) AS nLines,
       ROUND(CASE WHEN len(l) > 0
             THEN CAST(len(list_filter(c, x -> x >= 2)) AS DOUBLE) / len(l)
             ELSE 0.0 END, 6) AS dupLineFrac,
       ROUND(CASE WHEN list_sum(list_transform(l, ln -> length(ln))) > 0
             THEN CAST(list_sum(list_transform(range(1, len(l) + 1),
                    i -> CASE WHEN c[i] >= 2 THEN length(l[i]) ELSE 0 END)) AS DOUBLE)
                  / list_sum(list_transform(l, ln -> length(ln)))
             ELSE 0.0 END, 6) AS dupLineCharFrac
FROM occ
"""

NEARDUP_QUERIES["line_repetition"] = q_line_repetition
NEARDUP_ORACLES["line_repetition"] = SQL_LINE_REPETITION


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing (operators/text.pack_sequences):
    documents laid out in docId order, each assigned the 128-token
    training sequence its first token falls into, with the
    boundary-spanning flag a loss mask needs. seq_len=128 so the
    ~30-word synthetic docs produce multi-doc sequences AND
    boundary spans."""
    from genetics_spark_coloc_spark.operators.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=128, text_col="text", id_col="doc_id")


SQL_PACK_SEQUENCES = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END) AS BIGINT) AS nTokens
  FROM documents
),
laid AS (
  SELECT docId, nTokens,
         COALESCE(SUM(nTokens) OVER (ORDER BY docId
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS startTok
  FROM toks
)
SELECT docId, nTokens,
       CAST(FLOOR(startTok / 128.0) AS BIGINT) AS seqId,
       CAST(startTok % 128 AS BIGINT) AS offsetInSeq,
       FLOOR(startTok / 128.0)
         <> FLOOR((startTok + GREATEST(nTokens - 1, 0)) / 128.0) AS spansBoundary
FROM laid
"""

NEARDUP_QUERIES["pack_sequences"] = q_pack_sequences
NEARDUP_ORACLES["pack_sequences"] = SQL_PACK_SEQUENCES


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture rebalance (operators/text.
    temperature_mixture): sampling rates DERIVED from per-language
    corpus counts, rate = (n_lang/n_min)^(α−1) at α=0.5 — English
    (the dominant stratum) is downsampled hardest, the rarest
    language keeps rate 1.0. Membership is the same md5-bucket test
    as hash_split, so the realized sample is engine-reproducible."""
    from genetics_spark_coloc_spark.operators.text import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_mixture(
        docs, F.col("lang"), alpha=0.5, id_col="doc_id", salt="mix-v1"
    )
    return out.select(
        F.col("doc_id").alias("docId"),
        F.col("stratum"),
        F.col("samplingRate"),
    )


SQL_TEMPERATURE_MIXTURE = """
WITH counts AS (
  SELECT lang AS stratum, COUNT(*) AS n FROM documents GROUP BY lang
),
mn AS (SELECT MIN(n) AS nmin FROM counts),
rates AS (
  SELECT stratum,
         ROUND(POWER(CAST(n AS DOUBLE) / CAST(nmin AS DOUBLE), -0.5), 6)
           AS samplingRate
  FROM counts CROSS JOIN mn
)
SELECT d.doc_id AS docId, r.stratum, r.samplingRate
FROM documents d
JOIN rates r ON d.lang IS NOT DISTINCT FROM r.stratum
WHERE CAST(('0x' || substr(md5('mix-v1|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        / 4294967296.0 < r.samplingRate
"""

NEARDUP_QUERIES["temperature_mixture"] = q_temperature_mixture
NEARDUP_ORACLES["temperature_mixture"] = SQL_TEMPERATURE_MIXTURE


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (operators/text.classifier_score):
    a fasttext-style linear scorer whose model is a (term, weight)
    TABLE — here a deterministic stand-in lexicon (top-32 corpus
    tokens, weight ±ln(1+count) signed by the term's md5 parity) so
    the whole score path — tokenize, broadcast vocab join, bag
    average, sigmoid — is hash-checked end to end. Swapping in real
    trained weights changes the table, not the plan."""
    from genetics_spark_coloc_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(32)
    )
    # full-precision weights: a 6dp-rounded table would park wsum/n
    # exactly on decimal half-boundaries where Spark's HALF_UP and
    # DuckDB's binary rounding legitimately disagree
    weights = vocab.select(
        "term",
        (
            F.when(
                F.substring(F.md5("term"), 1, 1).isin(*list("01234567")),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            * F.ln(F.lit(1.0) + F.col("cnt"))
        ).alias("weight"),
    )
    return text.classifier_score(docs, weights, bias=0.1)


SQL_QUALITY_CLASSIFIER = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS tok
  FROM documents
),
exploded AS (SELECT docId, UNNEST(tok) AS term FROM toks),
vocab AS (
  SELECT term, COUNT(*) AS cnt FROM exploded GROUP BY term
  ORDER BY cnt DESC, term ASC LIMIT 32
),
weights AS (
  SELECT term,
         CASE WHEN substr(md5(term), 1, 1) IN
                ('0','1','2','3','4','5','6','7')
              THEN 1.0 ELSE -1.0 END
           * LN(1.0 + cnt) AS weight
  FROM vocab
),
perdoc AS (
  SELECT t.docId, len(t.tok) AS nTokens,
         COALESCE(SUM(w.weight), 0.0) AS wsum
  FROM toks t
  LEFT JOIN LATERAL (SELECT UNNEST(t.tok) AS term) u ON TRUE
  LEFT JOIN weights w ON u.term = w.term
  GROUP BY t.docId, len(t.tok)
),
scored AS (
  SELECT docId, nTokens,
         CASE WHEN nTokens > 0 THEN wsum / nTokens ELSE 0.0 END AS meanWeight
  FROM perdoc
)
SELECT docId, CAST(nTokens AS INT) AS nTokens,
       ROUND(meanWeight, 6) AS meanWeight,
       ROUND(1.0 / (1.0 + EXP(-(0.1 + meanWeight))), 6) AS score,
       1.0 / (1.0 + EXP(-(0.1 + meanWeight))) >= 0.5 AS label
FROM scored
"""

NEARDUP_QUERIES["quality_classifier"] = q_quality_classifier
NEARDUP_ORACLES["quality_classifier"] = SQL_QUALITY_CLASSIFIER


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/text.chunk_documents):
    32-token windows every 24 tokens — long documents explode into
    overlapping training chunks, short ones stay whole. chunkText is
    re-joined so the oracle hash covers the actual window content,
    not just offsets."""
    from genetics_spark_coloc_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=32, stride=24)


SQL_DOC_CHUNKS = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\\s+') END AS tok
  FROM documents
),
sized AS (
  SELECT docId, tok, len(tok) AS n,
         CASE WHEN len(tok) <= 32 THEN 1
              ELSE CAST(FLOOR((len(tok) - 32 + 23) / 24.0) AS INT) + 1 END
           AS nChunks
  FROM toks
)
SELECT docId, CAST(c.k AS INT) AS chunkIdx,
       CAST(c.k * 24 AS INT) AS startTok,
       CAST(LEAST(32, n - c.k * 24) AS INT) AS nChunkTokens,
       ARRAY_TO_STRING(tok[c.k * 24 + 1 : c.k * 24 + 32], ' ') AS chunkText
FROM sized CROSS JOIN LATERAL (
  SELECT UNNEST(GENERATE_SERIES(0, nChunks - 1)) AS k
) c
"""

NEARDUP_QUERIES["doc_chunks"] = q_doc_chunks
NEARDUP_ORACLES["doc_chunks"] = SQL_DOC_CHUNKS


def q_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced epoch ordering (operators/text.interleave_order):
    salted within-source shuffle + round-robin interleave across the
    20 sources, the whole total order carried by (roundIdx, orderKey)
    so it needs no single-partition window. The oracle replays the
    same md5 keys and per-source ranks."""
    from genetics_spark_coloc_spark.operators.text import interleave_order

    docs = load_table(spark, sf_dir, "documents")
    return interleave_order(docs, F.col("source"), salt="epoch-0")


SQL_INTERLEAVE_ORDER = """
SELECT doc_id AS docId, source,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY source
         ORDER BY md5('epoch-0|' || CAST(doc_id AS VARCHAR))
       ) AS INT) AS roundIdx,
       md5('epoch-0|' || CAST(doc_id AS VARCHAR)) AS orderKey
FROM documents
"""

NEARDUP_QUERIES["interleave_order"] = q_interleave_order
NEARDUP_ORACLES["interleave_order"] = SQL_INTERLEAVE_ORDER


def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE inner loop (operators/text.bpe_top_merges):
    corpus-wide adjacent-token-pair counts, top-20 merge candidates —
    one map-side-combined count + TakeOrderedAndProject."""
    from genetics_spark_coloc_spark.operators.text import bpe_top_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_top_merges(docs, k=20)


SQL_BPE_TOP_MERGES = r"""
WITH toks AS (
  SELECT CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
pairs AS (
  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS pair
  FROM toks CROSS JOIN LATERAL (
    SELECT UNNEST(GENERATE_SERIES(1, len(t) - 1)) AS i
  ) g
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS pairCount
FROM pairs GROUP BY pair
ORDER BY pairCount DESC, pair ASC LIMIT 20
"""

NEARDUP_QUERIES["bpe_top_merges"] = q_bpe_top_merges
NEARDUP_ORACLES["bpe_top_merges"] = SQL_BPE_TOP_MERGES


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (operators/text.
    strip_boilerplate): the newline-free corpus is chunked into
    2-token lines (the line_repetition device), lines occurring in
    more than 50 distinct documents are dropped everywhere, and each
    document's cleaned text is rebuilt in order."""
    from genetics_spark_coloc_spark.operators.text import (
        strip_boilerplate,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    evens = F.filter(toks, lambda x, i: i % 2 == 0)
    odds = F.filter(toks, lambda x, i: i % 2 == 1)
    pairs = F.zip_with(
        evens,
        odds,
        lambda a, b: F.when(b.isNull(), a).otherwise(
            F.concat(a, F.lit(" "), b)
        ),
    )
    fabricated = F.when(
        F.size(toks) > 0, F.array_join(pairs, "\n")
    ).otherwise(F.lit(""))
    # same projection-collapse barrier as line_repetition: without it
    # the O(tokens²) chunking re-inlines into every consumer
    fab = docs.select(
        F.col("doc_id").alias("docId"), fabricated.alias("fabText")
    ).localCheckpoint(eager=False)
    return strip_boilerplate(
        fab, F.split(F.col("fabText"), "\n"), id_col="docId", max_df=50
    )


SQL_BOILERPLATE_STRIP = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(COALESCE(text, '')))) = 0 THEN []
              ELSE string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') END AS t
  FROM documents
),
lines AS (
  SELECT docId,
         CASE WHEN len(t) = 0 THEN ['']
              ELSE list_transform(range(0, CAST(CEIL(len(t) / 2.0) AS BIGINT)),
                        i -> array_to_string(list_slice(t, i*2+1, i*2+2), ' ')) END AS l
  FROM toks
),
occ AS (
  SELECT docId, CAST(i AS INT) - 1 AS pos, l[CAST(i AS INT)] AS line
  FROM lines CROSS JOIN LATERAL (
    SELECT UNNEST(GENERATE_SERIES(1, len(l))) AS i
  ) g
),
dfreq AS (
  SELECT line, COUNT(DISTINCT docId) AS lineDf FROM occ GROUP BY line
)
SELECT o.docId,
       CAST(COUNT(*) AS BIGINT) AS nLines,
       CAST(SUM(CASE WHEN d.lineDf <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS nKept,
       COALESCE(STRING_AGG(CASE WHEN d.lineDf <= 50 THEN o.line END,
                           chr(10) ORDER BY o.pos), '') AS cleanedText
FROM occ o JOIN dfreq d ON d.line = o.line
GROUP BY o.docId
"""

NEARDUP_QUERIES["boilerplate_strip"] = q_boilerplate_strip
NEARDUP_ORACLES["boilerplate_strip"] = SQL_BOILERPLATE_STRIP


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup (operators/text.
    canonicalize_url / url_dedup): the corpus carries no URLs, so the
    query plants a deterministic mix of case variants, tracking
    params, fragments, and trailing slashes keyed on doc_id — ~10
    canonical groups emerge and the keeper choice is hash-checked."""
    from genetics_spark_coloc_spark.operators.text import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.when(k % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(k % 3 == 2, F.lit("cdn.example.com"))
        .when(k % 3 == 0, F.lit("Example.COM"))
        .otherwise(F.lit("example.com")),
        F.lit("/article/"),
        (k % 5).cast("string"),
        F.when(k % 4 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 2 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(k % 4 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    planted = docs.select("doc_id", url.alias("url"))
    return url_dedup(planted, url_col="url", id_col="doc_id")


SQL_URL_DEDUP = r"""
WITH planted AS (
  SELECT doc_id AS docId,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 3 = 2 THEN 'cdn.example.com'
                  WHEN doc_id % 3 = 0 THEN 'Example.COM'
                  ELSE 'example.com' END)
         || '/article/' || CAST(doc_id % 5 AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END) AS url
  FROM documents
),
canon AS (
  SELECT docId, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       lower(regexp_extract(url, '^([a-zA-Z]+://[^/]*)', 1))
                         || regexp_replace(url, '^[a-zA-Z]+://[^/]*', '', 'g'),
                       '#.*$', '', 'g'),
                     '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                   '&&+', '&', 'g'),
                 '\?&', '?', 'g'),
               '[?&]+$', '', 'g'),
             '/\?', '?', 'g'),
           '/$', '', 'g') AS canonicalUrl
  FROM planted
),
grp AS (
  SELECT canonicalUrl, COUNT(*) AS urlGroupSize, MIN(docId) AS keeperId
  FROM canon GROUP BY canonicalUrl
)
SELECT c.docId, c.url, c.canonicalUrl,
       CAST(g.urlGroupSize AS BIGINT) AS urlGroupSize,
       c.docId = g.keeperId AS isKeeper
FROM canon c JOIN grp g ON c.canonicalUrl = g.canonicalUrl
"""

NEARDUP_QUERIES["url_dedup"] = q_url_dedup
NEARDUP_ORACLES["url_dedup"] = SQL_URL_DEDUP


_PLANTED_DELTA_SPARK = None  # (marker: built inline in each query below)


def _planted_delta_corpus(spark: SparkSession, sf_dir: str):
    """Shared device for the incremental-dedup queries: the corpus
    has no exact duplicates, so docs with doc_id % 9 ∈ {1,2} are
    overwritten with one of 13 template strings — duplicate groups
    then span the delta (doc_id % 4 == 0) / index split both ways."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    content = F.when(
        F.pmod(k, F.lit(9)).isin(1, 2),
        F.concat(F.lit("template block "), F.pmod(k, F.lit(13)).cast("string")),
    ).otherwise(F.col("text"))
    planted = docs.select("doc_id", content.alias("content"))
    return (
        planted.filter(k % 4 == 0),
        planted.filter(k % 4 != 0),
    )


_PLANTED_DELTA_SQL = """
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 IN (1, 2)
              THEN 'template block ' || CAST(doc_id % 13 AS VARCHAR)
              ELSE text END AS content
  FROM documents
),
delta AS (SELECT * FROM planted WHERE doc_id % 4 = 0),
idx AS (SELECT * FROM planted WHERE doc_id % 4 != 0)
"""


def q_delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.
    incremental_exact_dedup): today's batch (doc_id % 4 == 0) marked
    against the persisted corpus — content-hash semi join against the
    distinct index hashes plus a within-delta first-occurrence
    window; per-batch cost scales with the batch, not the corpus."""
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    delta, index = _planted_delta_corpus(spark, sf_dir)
    return incremental_exact_dedup(delta, index, text_col="content")


SQL_DELTA_DEDUP = f"""
WITH {_PLANTED_DELTA_SQL.strip()},
d AS (
  SELECT doc_id AS docId, md5(COALESCE(content, '')) AS contentHash
  FROM delta
),
ih AS (SELECT DISTINCT md5(COALESCE(content, '')) AS contentHash FROM idx),
marked AS (
  SELECT d.docId, d.contentHash,
         ih.contentHash IS NOT NULL AS dupOfIndex,
         ROW_NUMBER() OVER (
           PARTITION BY d.contentHash ORDER BY d.docId
         ) > 1 AS dupWithinDelta
  FROM d LEFT JOIN ih ON d.contentHash = ih.contentHash
)
SELECT docId, contentHash, dupOfIndex, dupWithinDelta,
       NOT dupOfIndex AND NOT dupWithinDelta AS keep
FROM marked
"""

NEARDUP_QUERIES["delta_dedup"] = q_delta_dedup
NEARDUP_ORACLES["delta_dedup"] = SQL_DELTA_DEDUP


def q_delta_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates (operators/dedup.
    incremental_lsh_candidates): the delta's band table joined
    against the index's — never delta×delta or index×index, the
    daily-crawl shape where the index band table is persisted
    bucketed by (bandIdx, bandHash)."""
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    delta, index = _planted_delta_corpus(spark, sf_dir)
    return incremental_lsh_candidates(
        delta, index, text_col="content", num_perm=8, band_size=2
    )


SQL_DELTA_LSH_PAIRS = f"""
WITH {_PLANTED_DELTA_SQL.strip()},
sh AS (
  SELECT DISTINCT doc_id AS docId, doc_id % 4 = 0 AS isDelta,
         substr(lower(content), CAST(i AS INT) * 4 + 1, 8) AS shingle
  FROM planted CROSS JOIN range(0, 64) AS t(i)
  WHERE CAST(i AS INT) < CAST(FLOOR(LEAST(GREATEST((length(lower(content)) - 8) / 4 + 1, 1), 64)) AS INT)
),
hashed AS (
  SELECT docId, isDelta, CAST(p AS INT) AS perm,
         substr(md5(shingle), CAST(p AS INT) * 3 + 1, 8) AS h
  FROM sh, range(0, 8) AS pt(p)
),
sig AS (
  SELECT docId, isDelta, perm, MIN(h) AS minHash
  FROM hashed GROUP BY docId, isDelta, perm
),
bands AS (
  SELECT docId, isDelta, CAST(FLOOR(perm / 2) AS INT) AS bandIdx,
         md5(string_agg(minHash, '|' ORDER BY minHash)) AS bandHash
  FROM sig
  GROUP BY docId, isDelta, CAST(FLOOR(perm / 2) AS INT)
)
SELECT DISTINCT d.docId AS deltaId, i.docId AS indexId
FROM bands d
JOIN bands i ON d.bandIdx = i.bandIdx AND d.bandHash = i.bandHash
WHERE d.isDelta AND NOT i.isDelta
"""

NEARDUP_QUERIES["delta_lsh_pairs"] = q_delta_lsh_pairs
NEARDUP_ORACLES["delta_lsh_pairs"] = SQL_DELTA_LSH_PAIRS


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-duplicate token spans (Lee et al. 2022 span
    semantics at 5-token anchor windows): every contiguous region
    covered by a 5-gram occurring more than once in the corpus
    (operators/text.duplicate_spans)."""
    from genetics_spark_coloc_spark.operators.text import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, "text", "doc_id", min_tokens=5)


SQL_DUP_SPANS = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
starts AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4) ELSE [] END) AS start,
         t
  FROM toks
),
grams AS (
  SELECT docId, start,
         array_to_string(list_slice(t, start + 1, start + 5), ' ') AS g
  FROM starts
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
dup AS (
  SELECT docId, start FROM grams WHERE g IN (SELECT g FROM dupg)
),
isl AS (
  SELECT docId, start,
         SUM(CASE WHEN prev IS NULL OR start - prev > 5 THEN 1 ELSE 0 END)
             OVER (PARTITION BY docId ORDER BY start) AS islandId
  FROM (
    SELECT docId, start,
           LAG(start) OVER (PARTITION BY docId ORDER BY start) AS prev
    FROM dup
  )
)
SELECT docId,
       CAST(MIN(start) AS BIGINT) AS spanStart,
       CAST(MAX(start) + 5 AS BIGINT) AS spanEnd,
       CAST(MAX(start) + 5 - MIN(start) AS BIGINT) AS spanTokens
FROM isl GROUP BY docId, islandId
"""

NEARDUP_QUERIES["dup_spans"] = q_dup_spans
NEARDUP_ORACLES["dup_spans"] = SQL_DUP_SPANS


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplicate removal: cut every maximal duplicated span
    and rebuild the text (operators/text.remove_duplicate_spans)."""
    from genetics_spark_coloc_spark.operators.text import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "text", "doc_id", min_tokens=5)


SQL_DUP_SPAN_REMOVAL = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
starts AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4) ELSE [] END) AS start,
         t
  FROM toks
),
grams AS (
  SELECT docId, start,
         array_to_string(list_slice(t, start + 1, start + 5), ' ') AS g
  FROM starts
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
dup AS (
  SELECT docId, start FROM grams WHERE g IN (SELECT g FROM dupg)
),
isl AS (
  SELECT docId, start,
         SUM(CASE WHEN prev IS NULL OR start - prev > 5 THEN 1 ELSE 0 END)
             OVER (PARTITION BY docId ORDER BY start) AS islandId
  FROM (
    SELECT docId, start,
           LAG(start) OVER (PARTITION BY docId ORDER BY start) AS prev
    FROM dup
  )
),
spans AS (
  SELECT docId, MIN(start) AS spanStart, MAX(start) + 5 AS spanEnd
  FROM isl GROUP BY docId, islandId
),
origtoks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
),
tok AS (
  SELECT docId, UNNEST(range(0, len(t))) AS p, t FROM origtoks
),
kept AS (
  SELECT k.docId, k.p, k.t[k.p + 1] AS tk
  FROM tok k
  LEFT JOIN spans s
    ON s.docId = k.docId AND k.p >= s.spanStart AND k.p < s.spanEnd
  WHERE s.docId IS NULL
),
cleaned AS (
  SELECT docId, string_agg(tk, ' ' ORDER BY p) AS cleanedText
  FROM kept GROUP BY docId
),
dupcount AS (
  SELECT docId, SUM(spanEnd - spanStart) AS nDup FROM spans GROUP BY docId
)
SELECT o.docId,
       CAST(COALESCE(len(o.t), -1) AS BIGINT) AS nTokens,
       CAST(COALESCE(d.nDup, 0) AS BIGINT) AS nDupTokens,
       COALESCE(c.cleanedText, '') AS cleanedText
FROM origtoks o
LEFT JOIN cleaned c ON c.docId = o.docId
LEFT JOIN dupcount d ON d.docId = o.docId
"""

NEARDUP_QUERIES["dup_span_removal"] = q_dup_span_removal
NEARDUP_ORACLES["dup_span_removal"] = SQL_DUP_SPAN_REMOVAL


def q_dup_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span islands annotated with the MAXIMAL verbatim
    match length inside each island — the true Lee et al. (2022)
    maximal-match semantics (operators/text.duplicate_span_lengths):
    a long verbatim copy scores maxMatchTokens == spanTokens, a chain
    of unrelated 5-token matches scores maxMatchTokens == 5."""
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_span_lengths,
    )

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_lengths(docs, "text", "doc_id", min_tokens=5)


SQL_DUP_SPAN_LENGTHS = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
starts AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4) ELSE [] END) AS start,
         t
  FROM toks
),
grams AS (
  SELECT docId, start,
         array_to_string(list_slice(t, start + 1, start + 5), ' ') AS g
  FROM starts
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
dup AS (
  SELECT docId, start FROM grams WHERE g IN (SELECT g FROM dupg)
),
isl AS (
  SELECT docId, start,
         SUM(CASE WHEN prev IS NULL OR start - prev > 5 THEN 1 ELSE 0 END)
             OVER (PARTITION BY docId ORDER BY start) AS islandId
  FROM (
    SELECT docId, start,
           LAG(start) OVER (PARTITION BY docId ORDER BY start) AS prev
    FROM dup
  )
),
spans AS (
  SELECT docId,
         CAST(MIN(start) AS BIGINT) AS spanStart,
         CAST(MAX(start) + 5 AS BIGINT) AS spanEnd,
         CAST(MAX(start) + 5 - MIN(start) AS BIGINT) AS spanTokens
  FROM isl GROUP BY docId, islandId
),
occ AS (
  SELECT docId, start, g FROM grams WHERE g IN (SELECT g FROM dupg)
),
pairs AS (
  SELECT a.docId AS leftId, a.start AS leftStart,
         b.docId AS rightId, b.start AS rightStart
  FROM occ a JOIN occ b ON a.g = b.g
  WHERE (a.docId < b.docId)
     OR (a.docId = b.docId AND a.start < b.start)
),
runs AS (
  SELECT leftId, rightId, d, leftStart, rightStart,
         SUM(brk) OVER (
           PARTITION BY leftId, rightId, d ORDER BY leftStart
         ) AS runId
  FROM (
    SELECT leftId, rightId, leftStart - rightStart AS d,
           leftStart, rightStart,
           CASE WHEN leftStart - LAG(leftStart) OVER (
                  PARTITION BY leftId, rightId, leftStart - rightStart
                  ORDER BY leftStart
                ) = 1 THEN 0 ELSE 1 END AS brk
    FROM pairs
  )
),
matches AS (
  SELECT leftId, rightId,
         CAST(MIN(leftStart) AS BIGINT) AS leftStart,
         CAST(MIN(rightStart) AS BIGINT) AS rightStart,
         CAST(COUNT(*) + 4 AS BIGINT) AS matchTokens
  FROM runs GROUP BY leftId, rightId, d, runId
),
sides AS (
  SELECT leftId AS docId, leftStart AS mStart, matchTokens FROM matches
  UNION ALL
  SELECT rightId AS docId, rightStart AS mStart, matchTokens FROM matches
)
SELECT s.docId, s.spanStart, s.spanEnd, s.spanTokens,
       MAX(m.matchTokens) AS maxMatchTokens
FROM spans s
LEFT JOIN sides m
  ON m.docId = s.docId AND m.mStart >= s.spanStart AND m.mStart < s.spanEnd
GROUP BY s.docId, s.spanStart, s.spanEnd, s.spanTokens
"""

NEARDUP_QUERIES["dup_span_lengths"] = q_dup_span_lengths
NEARDUP_ORACLES["dup_span_lengths"] = SQL_DUP_SPAN_LENGTHS


def q_verbatim_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximal verbatim matches >= 5 tokens across the corpus
    (operators/text.verbatim_match_spans): each row is one maximal
    copy — diagonal-chain runs over duplicated-gram occurrence pairs,
    the Lee et al. (2022) maximal-match primitive."""
    from genetics_spark_coloc_spark.operators.text import (
        verbatim_match_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return verbatim_match_spans(docs, "text", "doc_id", min_tokens=5)


SQL_VERBATIM_MATCHES = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
starts AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) >= 5 THEN range(0, len(t) - 4) ELSE [] END) AS start,
         t
  FROM toks
),
grams AS (
  SELECT docId, start,
         array_to_string(list_slice(t, start + 1, start + 5), ' ') AS g
  FROM starts
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
occ AS (
  SELECT docId, start, g FROM grams WHERE g IN (SELECT g FROM dupg)
),
pairs AS (
  SELECT a.docId AS leftId, a.start AS leftStart,
         b.docId AS rightId, b.start AS rightStart
  FROM occ a JOIN occ b ON a.g = b.g
  WHERE (a.docId < b.docId)
     OR (a.docId = b.docId AND a.start < b.start)
),
runs AS (
  SELECT leftId, rightId, d, leftStart, rightStart,
         SUM(brk) OVER (
           PARTITION BY leftId, rightId, d ORDER BY leftStart
         ) AS runId
  FROM (
    SELECT leftId, rightId, leftStart - rightStart AS d,
           leftStart, rightStart,
           CASE WHEN leftStart - LAG(leftStart) OVER (
                  PARTITION BY leftId, rightId, leftStart - rightStart
                  ORDER BY leftStart
                ) = 1 THEN 0 ELSE 1 END AS brk
    FROM pairs
  )
)
SELECT leftId, rightId,
       CAST(MIN(leftStart) AS BIGINT) AS leftStart,
       CAST(MIN(rightStart) AS BIGINT) AS rightStart,
       CAST(COUNT(*) + 4 AS BIGINT) AS matchTokens
FROM runs GROUP BY leftId, rightId, d, runId
"""

NEARDUP_QUERIES["verbatim_matches"] = q_verbatim_matches
NEARDUP_ORACLES["verbatim_matches"] = SQL_VERBATIM_MATCHES


def q_verbatim_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual Lee et al. (2022) ExactSubstr removal policy: cut
    every occurrence of a >= 20-token verbatim substring appearing
    more than once (operators/text.remove_verbatim_matches) — long
    copies only, unlike the island-level dup_span_removal."""
    from genetics_spark_coloc_spark.operators.text import (
        remove_verbatim_matches,
    )

    docs = load_table(spark, sf_dir, "documents")
    return remove_verbatim_matches(docs, "text", "doc_id", min_match_tokens=20)


SQL_VERBATIM_REMOVAL = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
starts AS (
  SELECT docId,
         UNNEST(CASE WHEN len(t) >= 20 THEN range(0, len(t) - 19) ELSE [] END) AS start,
         t
  FROM toks
),
grams AS (
  SELECT docId, start,
         array_to_string(list_slice(t, start + 1, start + 20), ' ') AS g
  FROM starts
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
),
occ AS (
  SELECT docId, start, g FROM grams WHERE g IN (SELECT g FROM dupg)
),
pairs AS (
  SELECT a.docId AS leftId, a.start AS leftStart,
         b.docId AS rightId, b.start AS rightStart
  FROM occ a JOIN occ b ON a.g = b.g
  WHERE (a.docId < b.docId)
     OR (a.docId = b.docId AND a.start < b.start)
),
runs AS (
  SELECT leftId, rightId, d, leftStart, rightStart,
         SUM(brk) OVER (
           PARTITION BY leftId, rightId, d ORDER BY leftStart
         ) AS runId
  FROM (
    SELECT leftId, rightId, leftStart - rightStart AS d,
           leftStart, rightStart,
           CASE WHEN leftStart - LAG(leftStart) OVER (
                  PARTITION BY leftId, rightId, leftStart - rightStart
                  ORDER BY leftStart
                ) = 1 THEN 0 ELSE 1 END AS brk
    FROM pairs
  )
),
matches AS (
  SELECT leftId, rightId,
         MIN(leftStart) AS leftStart,
         MIN(rightStart) AS rightStart,
         COUNT(*) + 19 AS matchTokens
  FROM runs GROUP BY leftId, rightId, d, runId
),
sides AS (
  SELECT leftId AS docId, leftStart AS s, leftStart + matchTokens AS e FROM matches
  UNION ALL
  SELECT rightId AS docId, rightStart AS s, rightStart + matchTokens AS e FROM matches
),
origtoks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
),
tok AS (
  SELECT docId, UNNEST(range(0, len(t))) AS p, t FROM origtoks
),
kept AS (
  SELECT k.docId, k.p, k.t[k.p + 1] AS tk
  FROM tok k
  LEFT JOIN sides s
    ON s.docId = k.docId AND k.p >= s.s AND k.p < s.e
  WHERE s.docId IS NULL
),
cleaned AS (
  SELECT docId, string_agg(tk, ' ' ORDER BY p) AS cleanedText,
         COUNT(*) AS nKept
  FROM kept GROUP BY docId
)
SELECT o.docId,
       CAST(COALESCE(len(o.t), -1) AS BIGINT) AS nTokens,
       CAST(COALESCE(len(o.t), 0) - COALESCE(c.nKept, 0) AS BIGINT) AS nDupTokens,
       COALESCE(c.cleanedText, '') AS cleanedText
FROM origtoks o
LEFT JOIN cleaned c ON c.docId = o.docId
"""

NEARDUP_QUERIES["verbatim_removal"] = q_verbatim_removal
NEARDUP_ORACLES["verbatim_removal"] = SQL_VERBATIM_REMOVAL


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sketches (Schleimer et al. 2003, MOSS):
    min-hash-per-frame selection over 5-gram md5s, frame width 4
    (operators/text.winnow_fingerprints)."""
    from genetics_spark_coloc_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)


SQL_WINNOW_FINGERPRINT = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
hashes AS (
  SELECT docId,
         CASE WHEN t IS NULL THEN NULL
              WHEN len(t) >= 5
              THEN list_transform(range(0, len(t) - 4),
                     i -> md5(array_to_string(list_slice(t, i + 1, i + 5), ' ')))
              ELSE CAST([] AS VARCHAR[]) END AS h
  FROM toks
),
sel AS (
  SELECT docId, h,
         CASE WHEN h IS NULL THEN CAST([] AS VARCHAR[])
              WHEN len(h) >= 4
              THEN list_transform(range(1, len(h) - 2),
                     j -> list_min(list_slice(h, j, j + 3)))
              WHEN len(h) >= 1 THEN [list_min(h)]
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM hashes
)
SELECT docId,
       CAST(COALESCE(len(h), -1) AS BIGINT) AS nGrams,
       CAST(len(list_distinct(s)) AS BIGINT) AS nFps,
       md5(array_to_string(list_sort(list_distinct(s)), '|')) AS fpSketch
FROM sel
"""

NEARDUP_QUERIES["winnow_fingerprint"] = q_winnow_fingerprint
NEARDUP_ORACLES["winnow_fingerprint"] = SQL_WINNOW_FINGERPRINT


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS candidate pairs from shared winnowing fingerprints
    (3-gram md5, frame width 2 — parameters sized so the synthetic
    corpus's shared runs actually collide)
    (operators/text.winnow_candidate_pairs)."""
    from genetics_spark_coloc_spark.operators.text import winnow_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_candidate_pairs(docs, "text", "doc_id", k=3, window=2)


SQL_WINNOW_PAIRS = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
hashes AS (
  SELECT docId,
         CASE WHEN t IS NULL THEN NULL
              WHEN len(t) >= 3
              THEN list_transform(range(0, len(t) - 2),
                     i -> md5(array_to_string(list_slice(t, i + 1, i + 3), ' ')))
              ELSE CAST([] AS VARCHAR[]) END AS h
  FROM toks
),
sel AS (
  SELECT docId,
         CASE WHEN h IS NULL THEN CAST([] AS VARCHAR[])
              WHEN len(h) >= 2
              THEN list_transform(range(1, len(h)),
                     j -> list_min(list_slice(h, j, j + 1)))
              WHEN len(h) >= 1 THEN [list_min(h)]
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM hashes
),
postings AS (
  SELECT docId, UNNEST(list_distinct(s)) AS fp FROM sel
)
SELECT l.docId AS leftId, r.docId AS rightId,
       CAST(COUNT(*) AS BIGINT) AS nSharedFps
FROM postings l JOIN postings r
  ON l.fp = r.fp AND l.docId < r.docId
GROUP BY l.docId, r.docId
HAVING COUNT(*) >= 1
"""

NEARDUP_QUERIES["winnow_pairs"] = q_winnow_pairs
NEARDUP_ORACLES["winnow_pairs"] = SQL_WINNOW_PAIRS


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of the corpus against a 3-term keyword
    query — the lexical retrieval half of a hybrid search stack
    (operators/text.bm25_scores)."""
    from genetics_spark_coloc_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["hash", "join", "vector"], "text", "doc_id")


SQL_BM25_RETRIEVAL = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
base AS (
  SELECT docId,
         CAST(COALESCE(len(t), 0) AS BIGINT) AS dl,
         CAST(COALESCE(len(list_filter(t, x -> x = 'hash')), 0) AS BIGINT) AS tf0,
         CAST(COALESCE(len(list_filter(t, x -> x = 'join')), 0) AS BIGINT) AS tf1,
         CAST(COALESCE(len(list_filter(t, x -> x = 'vector')), 0) AS BIGINT) AS tf2
  FROM toks
),
stats AS (
  SELECT COUNT(*) AS nDocs, AVG(dl) AS avgdl,
         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT b.docId, b.dl,
       ROUND(
         ln(1 + (s.nDocs - s.df0 + 0.5) / (s.df0 + 0.5))
           * b.tf0 * 2.2 / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
       + ln(1 + (s.nDocs - s.df1 + 0.5) / (s.df1 + 0.5))
           * b.tf1 * 2.2 / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
       + ln(1 + (s.nDocs - s.df2 + 0.5) / (s.df2 + 0.5))
           * b.tf2 * 2.2 / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)),
       6) AS score
FROM base b, stats s
WHERE b.tf0 + b.tf1 + b.tf2 > 0
"""

NEARDUP_QUERIES["bm25_retrieval"] = q_bm25_retrieval
NEARDUP_ORACLES["bm25_retrieval"] = SQL_BM25_RETRIEVAL


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
    list ('hash join vector', top-50) with the embedding-cosine list
    for query vector 0 (top-50) — lexical and dense candidates glued
    by operators/text.rrf_fuse (Cormack et al. 2009)."""
    from pyspark.sql.window import Window

    from genetics_spark_coloc_spark.operators.similarity import cosine_topk
    from genetics_spark_coloc_spark.operators.text import bm25_scores, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(docs, ["hash", "join", "vector"], "text", "doc_id")
    # orderBy + limit compiles to TakeOrderedAndProject (per-partition
    # top-k merged on the driver); a rank window over the WHOLE scored
    # corpus would sort every BM25 hit on one partition. The rank is
    # assigned on the surviving 50 rows only (same result: identical
    # ordering + deterministic docId tiebreak).
    bm_top = bm.orderBy(F.col("score").desc(), F.col("docId").asc()).limit(50)
    w = Window.partitionBy(declared_single_partition(F.col("docId"))).orderBy(
        F.col("score").desc(), F.col("docId").asc()
    )
    bm_ranked = bm_top.withColumn("rank", F.row_number().over(w)).select(
        "docId", "rank"
    )
    dense = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("neighborId").alias("docId"), "rank"
    )
    return rrf_fuse([bm_ranked, dense])


SQL_HYBRID_RETRIEVAL = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
base AS (
  SELECT docId,
         CAST(COALESCE(len(t), 0) AS BIGINT) AS dl,
         CAST(COALESCE(len(list_filter(t, x -> x = 'hash')), 0) AS BIGINT) AS tf0,
         CAST(COALESCE(len(list_filter(t, x -> x = 'join')), 0) AS BIGINT) AS tf1,
         CAST(COALESCE(len(list_filter(t, x -> x = 'vector')), 0) AS BIGINT) AS tf2
  FROM toks
),
stats AS (
  SELECT COUNT(*) AS nDocs, AVG(dl) AS avgdl,
         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
),
bm AS (
  SELECT b.docId,
         ROUND(
           ln(1 + (s.nDocs - s.df0 + 0.5) / (s.df0 + 0.5))
             * b.tf0 * 2.2 / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
         + ln(1 + (s.nDocs - s.df1 + 0.5) / (s.df1 + 0.5))
             * b.tf1 * 2.2 / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
         + ln(1 + (s.nDocs - s.df2 + 0.5) / (s.df2 + 0.5))
             * b.tf2 * 2.2 / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)),
         6) AS score
  FROM base b, stats s
  WHERE b.tf0 + b.tf1 + b.tf2 > 0
),
bmr AS (
  SELECT docId, rank FROM (
    SELECT docId,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, docId ASC) AS BIGINT) AS rank
    FROM bm
  ) WHERE rank <= 50
),
q AS (
  SELECT vec_id AS queryId, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id = 0
),
c AS (
  SELECT vec_id AS neighborId, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
cs AS (
  SELECT queryId, neighborId,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosineSim
  FROM q, c
  WHERE queryId != neighborId
),
cr AS (
  SELECT neighborId AS docId, rank FROM (
    SELECT neighborId,
           CAST(ROW_NUMBER() OVER (ORDER BY cosineSim DESC, neighborId ASC) AS BIGINT) AS rank
    FROM cs
  ) WHERE rank <= 50
),
u AS (
  SELECT docId, rank FROM bmr
  UNION ALL
  SELECT docId, rank FROM cr
),
fused AS (
  SELECT docId,
         CAST(COUNT(*) AS BIGINT) AS nLists,
         ROUND(SUM(1.0 / (60.0 + rank)), 6) AS rrfScore
  FROM u GROUP BY docId
)
SELECT docId, nLists, rrfScore,
       CAST(ROW_NUMBER() OVER (ORDER BY rrfScore DESC, docId ASC) AS INT) AS fusedRank
FROM fused
"""

NEARDUP_QUERIES["hybrid_retrieval"] = q_hybrid_retrieval
NEARDUP_ORACLES["hybrid_retrieval"] = SQL_HYBRID_RETRIEVAL


def q_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka low-dimensional retrieval: cosine top-5 for the
    first 10 vectors computed on the FIRST 16 of 64 dimensions
    (operators/similarity.truncate_embeddings + cosine_topk) — the
    cheap first stage of an MRL funnel, 4x less dot-product work per
    candidate."""
    from genetics_spark_coloc_spark.operators.similarity import (
        cosine_topk,
        truncate_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    trunc = truncate_embeddings(emb, dims=16)
    return cosine_topk(trunc, trunc.filter(F.col("vec_id") < 10), k=5)


SQL_MRL_TOPK = """
WITH q AS (
  SELECT vec_id AS queryId, CAST(embedding[1:16] AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighborId, CAST(embedding[1:16] AS DOUBLE[]) AS cv
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

NEARDUP_QUERIES["mrl_topk"] = q_mrl_topk
NEARDUP_ORACLES["mrl_topk"] = SQL_MRL_TOPK


def q_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE training round: count pairs, broadcast the
    winner, rewrite every document (operators/text.
    apply_top_bpe_merge). The oracle replays the rewrite through an
    independent gaps-and-islands parity formulation of leftmost-first
    matching — two different exact algorithms, one answer."""
    from genetics_spark_coloc_spark.operators.text import apply_top_bpe_merge

    docs = load_table(spark, sf_dir, "documents")
    return apply_top_bpe_merge(docs, "text", "doc_id")


SQL_BPE_APPLY_MERGE = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
pairs AS (
  SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS p
  FROM toks
),
top1 AS (
  SELECT p FROM pairs GROUP BY p ORDER BY COUNT(*) DESC, p ASC LIMIT 1
),
pq AS (
  SELECT string_split(p, ' ')[1] AS pa, string_split(p, ' ')[2] AS pb FROM top1
),
tok AS (
  SELECT docId, UNNEST(range(0, len(t))) AS i, t FROM toks
),
m AS (
  SELECT tok.docId, tok.i, tok.t[tok.i + 1] AS tk,
         COALESCE(tok.t[tok.i + 1] = pq.pa AND tok.t[tok.i + 2] = pq.pb, FALSE) AS isMatch
  FROM tok, pq
),
runs AS (
  SELECT docId, i, tk, isMatch,
         i - ROW_NUMBER() OVER (PARTITION BY docId, isMatch ORDER BY i) AS grp
  FROM m
),
active AS (
  SELECT docId, i, tk, isMatch,
         isMatch AND (ROW_NUMBER() OVER (PARTITION BY docId, isMatch, grp ORDER BY i) % 2) = 1 AS isActive
  FROM runs
),
sym AS (
  SELECT docId, i,
         CASE WHEN isActive
              THEN tk || ' ' || LEAD(tk) OVER (PARTITION BY docId ORDER BY i)
              WHEN COALESCE(LAG(isActive) OVER (PARTITION BY docId ORDER BY i), FALSE)
              THEN NULL
              ELSE tk END AS symbol
  FROM active
)
SELECT docId,
       CAST(ROW_NUMBER() OVER (PARTITION BY docId ORDER BY i) - 1 AS INT) AS pos,
       symbol
FROM sym WHERE symbol IS NOT NULL
"""

NEARDUP_QUERIES["bpe_apply_merge"] = q_bpe_apply_merge
NEARDUP_ORACLES["bpe_apply_merge"] = SQL_BPE_APPLY_MERGE


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup (operators/dedup.
    exact_dedup_keep_best): the corpus is doubled (each doc re-crawled
    under id+100000) with a deterministic sidecar quality score, and
    each identical-content group keeps its highest-scoring copy —
    the snapshot-selection policy of a crawl pipeline."""
    from genetics_spark_coloc_spark.operators.dedup import exact_dedup_keep_best

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
    )
    aug = docs.unionByName(recrawl).withColumn(
        "score", (F.pmod(F.col("doc_id") * 37, F.lit(101))).cast("double")
    )
    return exact_dedup_keep_best(aug, "text", "doc_id", "score")


SQL_DEDUP_KEEP_BEST = """
WITH aug AS (
  SELECT doc_id, text, CAST((doc_id * 37) % 101 AS DOUBLE) AS score
  FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text,
         CAST(((doc_id + 100000) * 37) % 101 AS DOUBLE) AS score
  FROM documents
),
ranked AS (
  SELECT md5(text) AS contentHash, doc_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY md5(text) ORDER BY score DESC, doc_id ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY md5(text)) AS nCopies
  FROM aug
)
SELECT contentHash,
       CAST(doc_id AS BIGINT) AS keeperId,
       score AS keeperScore,
       CAST(nCopies AS BIGINT) AS nCopies
FROM ranked WHERE rn = 1
"""

NEARDUP_QUERIES["dedup_keep_best"] = q_dedup_keep_best
NEARDUP_ORACLES["dedup_keep_best"] = SQL_DEDUP_KEEP_BEST


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV rate of every document against the corpus's own top-20
    token vocabulary (operators/text.vocab_coverage composed with the
    top_tokens heavy-hitters profile)."""
    from genetics_spark_coloc_spark.operators.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )
    return vocab_coverage(docs, toks)


SQL_VOCAB_COVERAGE = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
occ AS (
  SELECT docId, UNNEST(t) AS tok FROM toks
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n FROM occ GROUP BY tok
  ) ORDER BY n DESC, tok ASC LIMIT 20
),
cov AS (
  SELECT o.docId,
         COUNT(*) AS nTokens,
         SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS nOov
  FROM occ o LEFT JOIN vocab v ON v.tok = o.tok
  GROUP BY o.docId
)
SELECT t.docId,
       CAST(COALESCE(c.nTokens, 0) AS BIGINT) AS nTokens,
       CAST(COALESCE(c.nOov, 0) AS BIGINT) AS nOov,
       COALESCE(ROUND(CAST(c.nOov AS DOUBLE) / c.nTokens, 6), 0.0) AS oovRate
FROM toks t LEFT JOIN cov c ON c.docId = t.docId
"""

NEARDUP_QUERIES["vocab_coverage"] = q_vocab_coverage
NEARDUP_ORACLES["vocab_coverage"] = SQL_VOCAB_COVERAGE


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (operators/text.
    corpus_stats_by_source): token volume, vocabulary size,
    type-token ratio, mean doc length."""
    from genetics_spark_coloc_spark.operators.text import (
        corpus_stats_by_source,
    )

    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats_by_source(docs)


SQL_CORPUS_STATS = """
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
occ AS (
  SELECT source, UNNEST(t) AS tok FROM toks
),
ts AS (
  SELECT source, COUNT(*) AS nTokens,
         COUNT(DISTINCT tok) AS nDistinctTokens
  FROM occ GROUP BY source
),
ds AS (
  SELECT source, COUNT(*) AS nDocs FROM documents GROUP BY source
)
SELECT d.source,
       CAST(d.nDocs AS BIGINT) AS nDocs,
       CAST(COALESCE(t.nTokens, 0) AS BIGINT) AS nTokens,
       CAST(COALESCE(t.nDistinctTokens, 0) AS BIGINT) AS nDistinctTokens,
       COALESCE(ROUND(CAST(t.nDistinctTokens AS DOUBLE) / t.nTokens, 6), 0.0)
         AS typeTokenRatio,
       ROUND(CAST(COALESCE(t.nTokens, 0) AS DOUBLE) / d.nDocs, 6)
         AS meanDocTokens
FROM ds d LEFT JOIN ts t ON t.source = d.source
"""

NEARDUP_QUERIES["corpus_stats"] = q_corpus_stats
NEARDUP_ORACLES["corpus_stats"] = SQL_CORPUS_STATS


def q_winnow_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS fingerprint-Jaccard for every winnow candidate pair
    (operators/text.winnow_similarity), 3-gram/frame-2 parameters
    matching winnow_pairs."""
    from genetics_spark_coloc_spark.operators.text import winnow_similarity

    docs = load_table(spark, sf_dir, "documents")
    return winnow_similarity(docs, "text", "doc_id", k=3, window=2)


SQL_WINNOW_SIMILARITY = """
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
),
hashes AS (
  SELECT docId,
         CASE WHEN t IS NULL THEN NULL
              WHEN len(t) >= 3
              THEN list_transform(range(0, len(t) - 2),
                     i -> md5(array_to_string(list_slice(t, i + 1, i + 3), ' ')))
              ELSE CAST([] AS VARCHAR[]) END AS h
  FROM toks
),
sel AS (
  SELECT docId,
         CASE WHEN h IS NULL THEN CAST([] AS VARCHAR[])
              WHEN len(h) >= 2
              THEN list_transform(range(1, len(h)),
                     j -> list_min(list_slice(h, j, j + 1)))
              WHEN len(h) >= 1 THEN [list_min(h)]
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM hashes
),
counts AS (
  SELECT docId, len(list_distinct(s)) AS nFps FROM sel
),
postings AS (
  SELECT docId, UNNEST(list_distinct(s)) AS fp FROM sel
),
pairs AS (
  SELECT l.docId AS leftId, r.docId AS rightId,
         CAST(COUNT(*) AS BIGINT) AS nSharedFps
  FROM postings l JOIN postings r
    ON l.fp = r.fp AND l.docId < r.docId
  GROUP BY l.docId, r.docId
  HAVING COUNT(*) >= 1
)
SELECT p.leftId, p.rightId, p.nSharedFps,
       ROUND(CAST(p.nSharedFps AS DOUBLE)
             / (cl.nFps + cr.nFps - p.nSharedFps), 6) AS fpJaccard
FROM pairs p
JOIN counts cl ON cl.docId = p.leftId
JOIN counts cr ON cr.docId = p.rightId
"""

NEARDUP_QUERIES["winnow_similarity"] = q_winnow_similarity
NEARDUP_ORACLES["winnow_similarity"] = SQL_WINNOW_SIMILARITY


def q_mrl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage MRL retrieval funnel: 16-dim shortlist of 20, full
    64-dim exact re-rank to top-5 for the first 10 query vectors
    (operators/similarity.mrl_funnel_topk)."""
    from genetics_spark_coloc_spark.operators.similarity import mrl_funnel_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mrl_funnel_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        shortlist_dims=16,
        shortlist_k=20,
        k=5,
    )


SQL_MRL_FUNNEL = """
WITH q16 AS (
  SELECT vec_id AS queryId, CAST(embedding[1:16] AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c16 AS (
  SELECT vec_id AS neighborId, CAST(embedding[1:16] AS DOUBLE[]) AS cv
  FROM embeddings
),
s16 AS (
  SELECT queryId, neighborId,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim16
  FROM q16, c16 WHERE queryId != neighborId
),
shortlist AS (
  SELECT queryId, neighborId FROM (
    SELECT queryId, neighborId,
           ROW_NUMBER() OVER (PARTITION BY queryId ORDER BY sim16 DESC, neighborId ASC) AS r
    FROM s16
  ) WHERE r <= 20
),
full_s AS (
  SELECT s.queryId, s.neighborId,
         ROUND(list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosineSim
  FROM shortlist s
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) q
    ON q.vec_id = s.queryId
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) c
    ON c.vec_id = s.neighborId
)
SELECT queryId, neighborId, cosineSim,
       CAST(ROW_NUMBER() OVER (PARTITION BY queryId ORDER BY cosineSim DESC, neighborId ASC) AS INT) AS rank
FROM full_s
QUALIFY rank <= 5
"""

NEARDUP_QUERIES["mrl_funnel"] = q_mrl_funnel
NEARDUP_ORACLES["mrl_funnel"] = SQL_MRL_FUNNEL


def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-5 over 32-bit sign signatures for the first 10
    vectors (operators/similarity.binary_signatures + hamming_topk)
    — the binary tier of the retrieval funnel."""
    from genetics_spark_coloc_spark.operators.similarity import (
        binary_signatures,
        hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = binary_signatures(emb, num_planes=32)
    return hamming_topk(sigs, sigs.filter(F.col("vid") < 10), k=5)


SQL_HAMMING_TOPK = """
WITH proj AS (
  SELECT e.vec_id AS vid, CAST(p AS INT) AS p,
         list_sum(list_transform(range(len(e.embedding)), d ->
           CAST(e.embedding[CAST(d AS INT) + 1] AS DOUBLE) *
           CASE WHEN substr(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)
                     IN ('0','2','4','6','8','a','c','e')
                THEN 1.0 ELSE -1.0 END)) AS proj
  FROM embeddings e CROSS JOIN range(0, 32) t(p)
),
sigs AS (
  SELECT vid,
         CAST(SUM(CASE WHEN proj > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS signature
  FROM proj GROUP BY vid
),
s AS (
  SELECT q.vid AS queryId, c.vid AS neighborId,
         CAST(bit_count(xor(c.signature, q.signature)) AS INT) AS hammingDist
  FROM sigs c JOIN (SELECT * FROM sigs WHERE vid < 10) q
    ON c.vid != q.vid
)
SELECT queryId, neighborId, hammingDist,
       CAST(ROW_NUMBER() OVER (PARTITION BY queryId ORDER BY hammingDist ASC, neighborId ASC) AS INT) AS rank
FROM s QUALIFY rank <= 5
"""

NEARDUP_QUERIES["hamming_topk"] = q_hamming_topk
NEARDUP_ORACLES["hamming_topk"] = SQL_HAMMING_TOPK


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of 50 documents, weight = token
    count (Efraimidis-Spirakis A-Res keys from the md5 hash-uniform;
    operators/text.weighted_sample) — the reproducible manifest form
    of weighted subset selection."""
    from genetics_spark_coloc_spark.operators.text import (
        token_count,
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, token_count(F.col("text")), n=50)


SQL_WEIGHTED_SAMPLE = """
WITH base AS (
  SELECT doc_id AS docId,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS weight,
         CAST(('0x' || substr(md5('wsample-v1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS u
  FROM documents
  WHERE text IS NOT NULL
),
keyed AS (
  SELECT docId, weight, ROUND(POWER(u, 1.0 / weight), 12) AS sampleKey
  FROM base WHERE weight > 0
)
SELECT docId, weight, sampleKey
FROM keyed ORDER BY sampleKey DESC, docId ASC LIMIT 50
"""

NEARDUP_QUERIES["weighted_sample"] = q_weighted_sample
NEARDUP_ORACLES["weighted_sample"] = SQL_WEIGHTED_SAMPLE


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training, 3 merge rounds (operators/text.
    bpe_train_merges): each round counts adjacent pairs on the
    corpus as rewritten by the previous winners — the full
    distributed trainer, not just one round. The oracle UNROLLS the
    same 3 rounds in SQL, replaying each rewrite through the
    independent gaps-and-islands parity formulation of
    leftmost-first matching (same device the bpe_apply_merge oracle
    uses), so the two sides share no algorithm."""
    from genetics_spark_coloc_spark.operators.text import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    # r14: materialize_rounds — each round's rewritten corpus is
    # lineage-truncated so round r does ONE corpus pass instead of
    # replaying rewrites 1..r-1 (and the winner broadcasts replaying
    # them again); drilled 4.42 -> 2.85 s at sf0.1, and this is the
    # operator's own documented production form for real vocab sizes.
    return bpe_train_merges(docs, n_merges=3, materialize_rounds=True)


def _bpe_train_oracle_sql(n_merges: int = 3) -> str:
    """Generate the unrolled n-round BPE training oracle: round r
    counts pairs on t{r-1}, keeps winner w{r}, and (if another round
    follows) rewrites t{r-1} -> t{r} with the leftmost-first
    non-overlapping merge expressed as gaps-and-islands run parity."""
    ctes = [
        r"""t0 AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"t{r - 1}"
        ctes.append(
            f"""p{r} AS (
  SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM {prev}
)"""
        )
        ctes.append(
            f"""w{r} AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS pairCount
  FROM p{r} GROUP BY pair ORDER BY pairCount DESC, pair ASC LIMIT 1
)"""
        )
        if r == n_merges:
            break
        ctes.append(
            f"""pq{r} AS (
  SELECT string_split(pair, ' ')[1] AS pa, string_split(pair, ' ')[2] AS pb FROM w{r}
)"""
        )
        ctes.append(
            f"""e{r} AS (
  SELECT docId, UNNEST(range(0, len(t))) AS i, t FROM {prev}
)"""
        )
        ctes.append(
            f"""m{r} AS (
  SELECT e{r}.docId, e{r}.i, e{r}.t[e{r}.i + 1] AS tk,
         COALESCE(e{r}.t[e{r}.i + 1] = pq{r}.pa AND e{r}.t[e{r}.i + 2] = pq{r}.pb, FALSE) AS isMatch
  FROM e{r}, pq{r}
)"""
        )
        ctes.append(
            f"""r{r} AS (
  SELECT docId, i, tk, isMatch,
         i - ROW_NUMBER() OVER (PARTITION BY docId, isMatch ORDER BY i) AS grp
  FROM m{r}
)"""
        )
        ctes.append(
            f"""a{r} AS (
  SELECT docId, i, tk, isMatch,
         isMatch AND (ROW_NUMBER() OVER (PARTITION BY docId, isMatch, grp ORDER BY i) % 2) = 1 AS isActive
  FROM r{r}
)"""
        )
        ctes.append(
            f"""s{r} AS (
  SELECT docId, i,
         CASE WHEN isActive
              THEN tk || ' ' || LEAD(tk) OVER (PARTITION BY docId ORDER BY i)
              WHEN COALESCE(LAG(isActive) OVER (PARTITION BY docId ORDER BY i), FALSE)
              THEN NULL
              ELSE tk END AS symbol
  FROM a{r}
)"""
        )
        ctes.append(
            f"""t{r} AS (
  SELECT docId, list(symbol ORDER BY i) AS t
  FROM s{r} WHERE symbol IS NOT NULL GROUP BY docId
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS mergeRank, pair, pairCount FROM w{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


NEARDUP_QUERIES["bpe_train_merges"] = q_bpe_train_merges
NEARDUP_ORACLES["bpe_train_merges"] = _bpe_train_oracle_sql(3)


def q_quality_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-50% quality selection (operators/text.
    quality_percentile_select): stratified percent_rank keep — the
    curation step between scoring and mixing."""
    from genetics_spark_coloc_spark.operators.text import (
        quality_percentile_select,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_percentile_select(docs, keep_frac=0.5)


SQL_QUALITY_SELECT = r"""
WITH toks AS (
  SELECT source, doc_id AS docId, text,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
  FROM documents
),
scored AS (
  SELECT source, docId,
         ROUND((
           LEAST(ntok / 100.0, 1.0)
           + GREATEST(0.0, 1.0 - 5.0 * (length(text) - length(regexp_replace(text, '[\p{Punct}]', '', 'g'))) / NULLIF(length(text), 0))
           + GREATEST(0.0, 1.0 - 5.0 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / NULLIF(length(text), 0))
           + LEAST(3.0 * len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) / NULLIF(ntok, 0), 1.0)
         ) / 4.0, 6) AS q
  FROM toks
),
ranked AS (
  SELECT source, docId, q,
         ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                    ORDER BY q DESC, docId ASC), 6) AS pctRank
  FROM scored
)
SELECT source, docId, q, pctRank FROM ranked WHERE pctRank <= 0.5
"""

NEARDUP_QUERIES["quality_select"] = q_quality_select
NEARDUP_ORACLES["quality_select"] = SQL_QUALITY_SELECT


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled token-budget allocation across sources
    (operators/text.token_budget_allocation, T=2, 1M-token budget):
    the mixture manifest a sampler executes."""
    from genetics_spark_coloc_spark.operators.text import (
        token_budget_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_allocation(docs, total_budget=1_000_000, temperature=2.0)


SQL_TOKEN_BUDGET = r"""
WITH cnt AS (
  SELECT source,
         CAST(SUM(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS availableTokens
  FROM documents GROUP BY source
),
p AS (SELECT source, availableTokens,
             CAST(ROUND(POWER(availableTokens, 0.5), 6) AS DECIMAL(28,6)) AS pw
      FROM cnt),
tot AS (SELECT SUM(pw) AS t FROM p),
alloc AS (
  SELECT source, availableTokens,
         ROUND(CAST(pw AS DOUBLE) / CAST(t AS DOUBLE), 6) AS targetWeight,
         CAST(ROUND(CAST(pw AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0) AS BIGINT) AS targetTokens
  FROM p, tot
)
SELECT source, availableTokens, targetWeight, targetTokens,
       ROUND(targetTokens / CAST(availableTokens AS DOUBLE), 6) AS samplingRate,
       CAST(CEIL(targetTokens / CAST(availableTokens AS DOUBLE)) AS INT) AS epochs
FROM alloc
"""

NEARDUP_QUERIES["token_budget"] = q_token_budget
NEARDUP_ORACLES["token_budget"] = SQL_TOKEN_BUDGET


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/text.
    dsir_importance_weights, Xie et al. 2023): hashed-unigram bucket
    distributions are estimated for the English subset (target) and
    the whole corpus (raw); every document scores the log importance
    ratio of its bucket bag — the resampling weight that tilts the
    raw corpus toward the target domain."""
    from genetics_spark_coloc_spark.operators.text import (
        dsir_importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, is_target=F.col("lang") == "en", n_buckets=256, alpha=1.0
    )


SQL_DSIR_WEIGHTS = r"""
WITH tok AS (
  SELECT doc_id AS docId, lang,
         UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
  WHERE length(trim(lower(COALESCE(text, '')))) > 0
),
occ AS (
  SELECT docId, lang,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 256 AS bucket
  FROM tok
),
raw AS (
  SELECT bucket, COUNT(*) AS cR,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cT
  FROM occ GROUP BY bucket
),
tot AS (SELECT SUM(cR) AS nr, SUM(cT) AS nt FROM raw),
ratio AS (
  SELECT bucket,
         ln((cT + 1.0) / (nt + 256.0)) - ln((cR + 1.0) / (nr + 256.0)) AS lr
  FROM raw, tot
),
db AS (SELECT docId, bucket, COUNT(*) AS c FROM occ GROUP BY docId, bucket),
scored AS (
  SELECT db.docId, SUM(c) AS nTokens, SUM(c * lr) AS lw
  FROM db JOIN ratio USING (bucket) GROUP BY db.docId
)
SELECT d.doc_id AS docId,
       CAST(COALESCE(s.nTokens, 0) AS BIGINT) AS nTokens,
       ROUND(COALESCE(s.lw, 0.0), 6) AS logWeight
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN scored s ON s.docId = d.doc_id
"""


def q_global_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup (operators/text.global_line_dedup):
    the newline-free corpus is chunked into 2-token lines (the
    line_repetition device); each distinct line keeps only its first
    corpus-wide occurrence (smallest docId, then position) and every
    later occurrence is removed; cleaned text is rebuilt in order."""
    from genetics_spark_coloc_spark.operators.text import (
        global_line_dedup,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    evens = F.filter(toks, lambda x, i: i % 2 == 0)
    odds = F.filter(toks, lambda x, i: i % 2 == 1)
    pairs = F.zip_with(
        evens,
        odds,
        lambda a, b: F.when(b.isNull(), a).otherwise(
            F.concat(a, F.lit(" "), b)
        ),
    )
    fabricated = F.when(
        F.size(toks) > 0, F.array_join(pairs, "\n")
    ).otherwise(F.lit(""))
    fab = docs.select(
        F.col("doc_id").alias("docId"), fabricated.alias("fabText")
    ).localCheckpoint(eager=False)
    return global_line_dedup(
        fab, F.split(F.col("fabText"), "\n"), id_col="docId"
    )


SQL_GLOBAL_LINE_DEDUP = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(COALESCE(text, '')))) = 0 THEN []
              ELSE string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') END AS t
  FROM documents
),
lines AS (
  SELECT docId,
         CASE WHEN len(t) = 0 THEN ['']
              ELSE list_transform(range(0, CAST(CEIL(len(t) / 2.0) AS BIGINT)),
                        i -> array_to_string(list_slice(t, i*2+1, i*2+2), ' ')) END AS l
  FROM toks
),
occ AS (
  SELECT docId, CAST(i AS INT) - 1 AS pos, l[CAST(i AS INT)] AS line
  FROM lines CROSS JOIN LATERAL (
    SELECT UNNEST(GENERATE_SERIES(1, len(l))) AS i
  ) g
),
firsts AS (
  SELECT line, docId AS fDoc, pos AS fPos,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY docId, pos) AS rn
  FROM occ
),
f1 AS (SELECT line, fDoc, fPos FROM firsts WHERE rn = 1)
SELECT o.docId,
       CAST(COUNT(*) AS BIGINT) AS nLines,
       CAST(SUM(CASE WHEN o.docId = f.fDoc AND o.pos = f.fPos
                     THEN 1 ELSE 0 END) AS BIGINT) AS nKept,
       COALESCE(STRING_AGG(CASE WHEN o.docId = f.fDoc AND o.pos = f.fPos
                                THEN o.line END, ' ' ORDER BY o.pos), '')
         AS cleanedText
FROM occ o JOIN f1 f ON f.line = o.line
GROUP BY o.docId
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment (operators/
    text.shard_plan): md5-hash order gives every document a
    reproducible pseudorandom position; shards are filled round-robin
    over that order so sizes differ by at most one."""
    from genetics_spark_coloc_spark.operators.text import shard_plan

    docs = load_table(spark, sf_dir, "documents")
    return shard_plan(docs, id_col="doc_id", n_shards=8)


SQL_SHARD_PLAN = """
WITH b AS (
  SELECT doc_id AS docId,
         CAST(('0x' || substr(md5('shuffle-v1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS k
  FROM documents
),
r AS (
  SELECT docId, ROW_NUMBER() OVER (ORDER BY k, docId) - 1 AS rk FROM b
)
SELECT docId,
       CAST(rk % 8 AS INT) AS shard,
       CAST(rk // 8 AS BIGINT) AS posInShard
FROM r
"""

NEARDUP_QUERIES["dsir_weights"] = q_dsir_weights
NEARDUP_ORACLES["dsir_weights"] = SQL_DSIR_WEIGHTS
NEARDUP_QUERIES["global_line_dedup"] = q_global_line_dedup
NEARDUP_ORACLES["global_line_dedup"] = SQL_GLOBAL_LINE_DEDUP
NEARDUP_QUERIES["shard_plan"] = q_shard_plan
NEARDUP_ORACLES["shard_plan"] = SQL_SHARD_PLAN


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict table (operators/text.
    curation_funnel): Gopher quality rules, repetition filter, PII
    gate (over the same deterministic planted-PII device as
    pii_scrub, so the stage is non-trivial on the synthetic corpus)
    and exact-dedup keeper election — one declarative plan, one
    boolean per stage, final kept conjunction."""
    from genetics_spark_coloc_spark.operators.text import curation_funnel

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            k % 7 == 0,
            F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            k % 11 == 0,
            F.concat(F.lit(" from 10.0."), (k % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
        F.when(
            k % 13 == 0,
            F.concat(F.lit(" ref 9"), (k * 137).cast("string"), F.lit("00012345")),
        ).otherwise(F.lit("")),
    )
    return curation_funnel(docs, "text", "doc_id", pii_text=planted, min_words=20)


SQL_CURATION_FUNNEL = r"""
WITH rtoks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
rgrams AS (
  SELECT docId, len(t) AS nt,
         CASE WHEN len(t) - 1 >= 1
              THEN list_transform(range(0, len(t) - 1),
                                  i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
              ELSE [] END AS g2,
         CASE WHEN len(t) - 2 >= 1
              THEN list_transform(range(0, len(t) - 2),
                                  i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
              ELSE [] END AS g3
  FROM rtoks
),
rep AS (
  SELECT docId,
         (CASE WHEN nt - 1 >= 1
               THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / (nt - 1)
               ELSE 0.0 END) <= 0.2
         AND
         (CASE WHEN nt - 2 >= 1
               THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / (nt - 2)
               ELSE 0.0 END) <= 0.18 AS passRepetition
  FROM rgrams
),
gbase AS (
  SELECT doc_id AS docId, COALESCE(text, '') AS text FROM documents
),
gfeat AS (
  SELECT docId, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS t,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS tl,
         string_split(text, chr(10)) AS lines
  FROM gbase
),
gm AS (
  SELECT docId,
         len(t) AS nWords,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
              ELSE 0.0 END AS meanLen,
         length(text) - length(regexp_replace(text, '#', '', 'g'))
           + len(regexp_extract_all(text, '\.\.\.')) AS nSymbols,
         len(lines) AS nLines,
         len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS bulletLines,
         len(list_filter(lines, x -> regexp_matches(x, '\.\.\.\s*$'))) AS ellipsisLines,
         len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS alphaWords,
         len(list_filter(tl, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS stopHits
  FROM gfeat
),
gq AS (
  SELECT docId,
         (nWords >= 20 AND nWords <= 100000)
           AND (meanLen >= 3.0 AND meanLen <= 10.0)
           AND (CASE WHEN nWords > 0 THEN CAST(nSymbols AS DOUBLE) / nWords <= 0.1 ELSE FALSE END)
           AND (CASE WHEN nLines > 0 THEN CAST(bulletLines AS DOUBLE) / nLines <= 0.1 ELSE FALSE END)
           AND (CASE WHEN nLines > 0 THEN CAST(ellipsisLines AS DOUBLE) / nLines <= 0.3 ELSE FALSE END)
           AND (CASE WHEN nWords > 0 THEN CAST(alphaWords AS DOUBLE) / nWords >= 0.8 ELSE FALSE END)
           AND (stopHits >= 2) AS passQuality
  FROM gm
),
planted AS (
  SELECT doc_id AS docId,
         COALESCE(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' ref 9' || CAST(doc_id * 137 AS VARCHAR) || '00012345'
                 ELSE '' END AS ptext
  FROM documents
),
pii AS (
  SELECT docId,
         (len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(ptext, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
          + len(regexp_extract_all(ptext, '\d{9,}'))) = 0 AS passPii
  FROM planted
),
keeper AS (
  SELECT doc_id AS docId,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(COALESCE(text, ''))) AS isKeeper
  FROM documents
)
SELECT g.docId, g.passQuality, r.passRepetition, p.passPii, k.isKeeper,
       g.passQuality AND r.passRepetition AND p.passPii AND k.isKeeper AS kept
FROM gq g
JOIN rep r ON r.docId = g.docId
JOIN pii p ON p.docId = g.docId
JOIN keeper k ON k.docId = g.docId
"""

NEARDUP_QUERIES["curation_funnel"] = q_curation_funnel
NEARDUP_ORACLES["curation_funnel"] = SQL_CURATION_FUNNEL


# --------------------------------------------------- deterministic sketches
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketches.py): a 4x1024
    portable-hash CMS over the corpus token stream, read back for the
    exact top-20 tokens — estimates are never below the true count
    and the overshoot is bounded by the sketch width."""
    from genetics_spark_coloc_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    sketch = cms_sketch(docs, toks, depth=4, width=1024)
    true_counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("trueCount"))
    )
    top = true_counts.orderBy(
        F.desc("trueCount"), F.asc("token")
    ).limit(20)
    est = cms_estimate(sketch, top, depth=4, width=1024)
    return (
        top.join(est, on="token")
        .select("token", F.col("trueCount").cast("long").alias("trueCount"), "estCount")
    )


SQL_CMS_HEAVY_HITTERS = r"""
WITH toks AS (
  SELECT CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT UNNEST(t) AS token FROM toks),
true_counts AS (
  SELECT token, COUNT(*) AS trueCount FROM occ GROUP BY token
),
top AS (
  SELECT token, trueCount FROM true_counts
  ORDER BY trueCount DESC, token ASC LIMIT 20
),
rows_ AS (SELECT UNNEST([0,1,2,3]) AS row),
sketch AS (
  SELECT r.row,
         ('0x' || substr(md5(CAST(r.row AS VARCHAR) || '|' || o.token), 1, 15))::UBIGINT % 1024 AS bucket,
         COUNT(*) AS cnt
  FROM occ o CROSS JOIN rows_ r
  GROUP BY 1, 2
),
keyed AS (
  SELECT t.token, t.trueCount, r.row,
         ('0x' || substr(md5(CAST(r.row AS VARCHAR) || '|' || t.token), 1, 15))::UBIGINT % 1024 AS bucket
  FROM top t CROSS JOIN rows_ r
)
SELECT k.token, CAST(k.trueCount AS BIGINT) AS trueCount,
       CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS estCount
FROM keyed k LEFT JOIN sketch s ON s.row = k.row AND s.bucket = k.bucket
GROUP BY k.token, k.trueCount
"""


def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per language
    (operators/sketches.py): 1024 portable-hash registers per group,
    integer bit-length rho (no float log2), linear-counting
    small-range correction — emitted next to the exact distinct count
    so the ~3% relative error is visible in the result."""
    from genetics_spark_coloc_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    regs = hll_registers(docs, toks, ["lang"], b=10)
    est = hll_estimate(regs, ["lang"], b=10)
    true = (
        docs.select("lang", F.explode(toks).alias("token"))
        .groupBy("lang")
        .agg(F.count_distinct("token").alias("trueDistinct"))
    )
    return true.join(est, on="lang").select(
        "lang",
        F.col("trueDistinct").cast("long").alias("trueDistinct"),
        "estDistinct",
    )


SQL_HLL_DISTINCT_TOKENS = r"""
WITH toks AS (
  SELECT lang,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT lang, UNNEST(t) AS token FROM toks),
hashed AS (
  SELECT lang,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM occ
),
rho AS (
  SELECT lang,
         h % 1024 AS register,
         CASE WHEN (h >> 10) = 0 THEN 51
              ELSE 50 - length(bin(h >> 10)) + 1 END AS rho
  FROM hashed
),
regs AS (
  SELECT lang, register, MAX(rho) AS maxRho FROM rho GROUP BY lang, register
),
agg AS (
  SELECT lang,
         SUM(POWER(2.0, -maxRho)) AS sumInv,
         COUNT(*) AS nonZero
  FROM regs GROUP BY lang
),
est AS (
  SELECT lang,
         (0.7213 / (1.0 + 1.079 / 1024)) * 1024.0 * 1024.0
           / (sumInv + (1024 - nonZero)) AS raw,
         1024 - nonZero AS zeros
  FROM agg
),
hll AS (
  SELECT lang,
         ROUND(CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
                    THEN 1024.0 * LN(1024.0 / zeros)
                    ELSE raw END, 4) AS estDistinct
  FROM est
),
true_d AS (
  SELECT lang, COUNT(DISTINCT token) AS trueDistinct FROM occ GROUP BY lang
)
SELECT t.lang, CAST(t.trueDistinct AS BIGINT) AS trueDistinct, h.estDistinct
FROM true_d t JOIN hll h USING (lang)
"""

NEARDUP_QUERIES["cms_heavy_hitters"] = q_cms_heavy_hitters
NEARDUP_ORACLES["cms_heavy_hitters"] = SQL_CMS_HEAVY_HITTERS
NEARDUP_QUERIES["hll_distinct_tokens"] = q_hll_distinct_tokens
NEARDUP_ORACLES["hll_distinct_tokens"] = SQL_HLL_DISTINCT_TOKENS


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cross-corpus overlap (operators/sketches.py kmv_*): split
    the documents into two corpora by doc parity, sketch each corpus's
    token SET with the 128 smallest portable hashes, and estimate
    union / intersection / Jaccard from the sketches alone — the
    train-vs-test contamination measurement a 100 TB pipeline runs
    without re-scanning either corpus. True set sizes emitted
    alongside so the estimation error is visible in the result."""
    from genetics_spark_coloc_spark.operators.sketches import (
        kmv_overlap_estimate,
        kmv_sketch,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    k = 128
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "corpus", (F.col("doc_id") % 2).cast("int")
    )
    toks = tokens(F.lower(F.col("text")))
    sk = kmv_sketch(docs, toks, ["corpus"], k=k)
    est = kmv_overlap_estimate(
        sk.filter(F.col("corpus") == 0).select("rank", "hashValue"),
        sk.filter(F.col("corpus") == 1).select("rank", "hashValue"),
        k=k,
    )
    membership = (
        docs.select("corpus", F.explode(toks).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(F.count_distinct("corpus").alias("_n"))
    )
    truth = membership.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("trueUnion"),
        F.count_if(F.col("_n") == 2).cast("long").alias("trueIntersection"),
    )
    return est.crossJoin(truth)


SQL_KMV_OVERLAP = r"""
WITH toks AS (
  SELECT CAST(doc_id % 2 AS INT) AS corpus,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT DISTINCT corpus, UNNEST(t) AS token FROM toks),
hashed AS (
  SELECT DISTINCT corpus,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM occ
),
ranked AS (
  SELECT corpus, h,
         ROW_NUMBER() OVER (PARTITION BY corpus ORDER BY h) AS r
  FROM hashed
),
sk AS (SELECT corpus, h FROM ranked WHERE r <= 128),
pool AS (
  SELECT h,
         MAX(CASE WHEN corpus = 0 THEN 1 ELSE 0 END) AS inA,
         MAX(CASE WHEN corpus = 1 THEN 1 ELSE 0 END) AS inB
  FROM sk GROUP BY h
),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY h) AS r FROM pool
  ) WHERE r <= 128
),
agg AS (
  SELECT COUNT(*) AS nPool, MAX(h) AS kth, SUM(inA * inB) AS nBoth
  FROM kept
),
est AS (
  SELECT CAST(nPool AS BIGINT) AS nPool,
         CASE WHEN nPool < 128 THEN CAST(nPool AS DOUBLE)
              ELSE 127.0 * POWER(2.0, 60) / CAST(kth AS DOUBLE) END AS u,
         CAST(nBoth AS DOUBLE) / CAST(nPool AS DOUBLE) AS jac
  FROM agg
),
truth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS trueUnion,
         CAST(COUNT(*) FILTER (WHERE nc = 2) AS BIGINT) AS trueIntersection
  FROM (SELECT token, COUNT(DISTINCT corpus) AS nc FROM occ GROUP BY token)
)
SELECT e.nPool,
       ROUND(e.u, 4) AS estUnion,
       ROUND(e.jac * e.u, 4) AS estIntersection,
       ROUND(e.jac, 6) AS estJaccard,
       t.trueUnion, t.trueIntersection
FROM est e CROSS JOIN truth t
"""

NEARDUP_QUERIES["kmv_overlap"] = q_kmv_overlap
NEARDUP_ORACLES["kmv_overlap"] = SQL_KMV_OVERLAP


def q_hll_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational sketch rollup (operators/sketches.py hll_registers):
    build HLL registers independently per SHARD (doc_id % 4 — the
    per-day / per-partition ingest unit at 100 TB), then merge them to
    per-language registers with a plain groupBy MAX — never touching
    raw documents again. The merge law makes the rolled-up estimate
    IDENTICAL to the single-pass estimate, which this query certifies
    by emitting both (plus the true distinct count) per language."""
    from genetics_spark_coloc_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    b = 10
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 4).cast("int")
    )
    toks = tokens(F.lower(F.col("text")))
    sharded = hll_registers(docs, toks, ["lang", "shard"], b=b)
    merged = sharded.groupBy("lang", "register").agg(
        F.max("maxRho").alias("maxRho")
    )
    rolled = hll_estimate(merged, ["lang"], b=b).withColumnRenamed(
        "estDistinct", "rolledUpEst"
    )
    direct_reg = hll_registers(docs, toks, ["lang"], b=b)
    direct = hll_estimate(direct_reg, ["lang"], b=b).withColumnRenamed(
        "estDistinct", "directEst"
    )
    # merge law certified on the INTEGER register tables, not the
    # float estimates: two independently-aggregated double SUMs can
    # differ by 1 ulp under Spark's nondeterministic partial-agg
    # order and flip an equality at a 4dp rounding boundary; the
    # register maxRho values are exact integers in both engines
    regcmp = (
        merged.withColumnRenamed("maxRho", "mRho")
        .join(
            direct_reg.withColumnRenamed("maxRho", "dRho"),
            on=["lang", "register"],
            how="full",
        )
        .groupBy("lang")
        .agg(
            F.min(
                F.coalesce(F.col("mRho") == F.col("dRho"), F.lit(False))
            ).alias("mergeLawHolds")
        )
    )
    truth = (
        docs.select("lang", F.explode(toks).alias("token"))
        .groupBy("lang")
        .agg(F.count_distinct("token").cast("long").alias("trueDistinct"))
    )
    return (
        truth.join(rolled, on="lang")
        .join(direct, on="lang")
        .join(regcmp, on="lang")
        .select(
            "lang", "trueDistinct", "rolledUpEst", "directEst", "mergeLawHolds"
        )
    )


SQL_HLL_SHARD_ROLLUP = r"""
WITH toks AS (
  SELECT lang, CAST(doc_id % 4 AS INT) AS shard,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT lang, shard, UNNEST(t) AS token FROM toks),
hashed AS (
  SELECT lang, shard, token,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM occ
),
rho AS (
  SELECT lang, shard,
         h % 1024 AS register,
         CASE WHEN (h >> 10) = 0 THEN 51
              ELSE 50 - length(bin(h >> 10)) + 1 END AS rho
  FROM hashed
),
sharded AS (
  SELECT lang, shard, register, MAX(rho) AS maxRho
  FROM rho GROUP BY lang, shard, register
),
merged AS (
  SELECT lang, register, MAX(maxRho) AS maxRho
  FROM sharded GROUP BY lang, register
),
direct AS (
  SELECT lang, register, MAX(rho) AS maxRho
  FROM rho GROUP BY lang, register
),
est_m AS (
  SELECT lang,
         SUM(POWER(2.0, -maxRho)) AS sumInv, COUNT(*) AS nonZero
  FROM merged GROUP BY lang
),
est_d AS (
  SELECT lang,
         SUM(POWER(2.0, -maxRho)) AS sumInv, COUNT(*) AS nonZero
  FROM direct GROUP BY lang
),
fin_m AS (
  SELECT lang,
         ROUND(CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
                    THEN 1024.0 * LN(1024.0 / zeros) ELSE raw END, 4) AS rolledUpEst
  FROM (SELECT lang,
               (0.7213 / (1.0 + 1.079 / 1024)) * 1024.0 * 1024.0
                 / (sumInv + (1024 - nonZero)) AS raw,
               1024 - nonZero AS zeros
        FROM est_m)
),
fin_d AS (
  SELECT lang,
         ROUND(CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
                    THEN 1024.0 * LN(1024.0 / zeros) ELSE raw END, 4) AS directEst
  FROM (SELECT lang,
               (0.7213 / (1.0 + 1.079 / 1024)) * 1024.0 * 1024.0
                 / (sumInv + (1024 - nonZero)) AS raw,
               1024 - nonZero AS zeros
        FROM est_d)
),
truth AS (
  SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) AS trueDistinct
  FROM occ GROUP BY lang
),
-- merge law certified on the exact integer register tables (see the
-- Spark twin): float-estimate equality can flip at a rounding
-- boundary under nondeterministic partial-agg order
regcmp AS (
  SELECT COALESCE(m.lang, d.lang) AS lang,
         BOOL_AND(COALESCE(m.maxRho = d.maxRho, FALSE)) AS mergeLawHolds
  FROM merged m FULL JOIN direct d
    ON m.lang = d.lang AND m.register = d.register
  GROUP BY 1
)
SELECT t.lang, t.trueDistinct, m.rolledUpEst, d.directEst, r.mergeLawHolds
FROM truth t JOIN fin_m m USING (lang) JOIN fin_d d USING (lang)
     JOIN regcmp r USING (lang)
"""

NEARDUP_QUERIES["hll_shard_rollup"] = q_hll_shard_rollup
NEARDUP_ORACLES["hll_shard_rollup"] = SQL_HLL_SHARD_ROLLUP


def q_delta_lsh_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates through the PERSISTED-INDEX
    code path (operators/dedup.lsh_band_index +
    incremental_lsh_candidates(index_bands=...)): the corpus band
    table is built once by the index builder and the delta joins into
    it — in production the table is written bucketed by (bandIdx,
    bandHash) via the lsh_band_index step, making the whole index
    side of this join exchange-free (plan-pinned in
    tests/test_plan_quality.py). Same semantics and oracle as
    delta_lsh_pairs, certifying the two paths are interchangeable."""
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
    )

    delta, index = _planted_delta_corpus(spark, sf_dir)
    bands = lsh_band_index(index, text_col="content", num_perm=8, band_size=2)
    return incremental_lsh_candidates(
        delta,
        text_col="content",
        num_perm=8,
        band_size=2,
        index_bands=bands,
    )


NEARDUP_QUERIES["delta_lsh_index_pairs"] = q_delta_lsh_index_pairs
NEARDUP_ORACLES["delta_lsh_index_pairs"] = SQL_DELTA_LSH_PAIRS


def q_kmv_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational KMV rollup (operators/sketches.py kmv_merge): sketch
    each ingest SHARD (doc_id % 4) independently, then merge the
    per-shard sketches by pooling values and re-ranking — never
    touching raw documents again. The merge law is EXACT for KMV (any
    globally k-smallest value is k-smallest within its shard), which
    this query certifies by comparing the merged and direct sketch
    TABLES on exact integers, alongside both distinct estimates and
    the true count."""
    from genetics_spark_coloc_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_merge,
        kmv_sketch,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    k = 128
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 4).cast("int")
    )
    toks = tokens(F.lower(F.col("text")))
    sharded = kmv_sketch(docs, toks, ["lang", "shard"], k=k)
    rolled_sk = kmv_merge(sharded, ["lang"], k=k)
    direct_sk = kmv_sketch(docs, toks, ["lang"], k=k)
    rolled = kmv_distinct_estimate(rolled_sk, ["lang"], k=k).withColumnRenamed(
        "estDistinct", "rolledUpEst"
    )
    direct = kmv_distinct_estimate(direct_sk, ["lang"], k=k).withColumnRenamed(
        "estDistinct", "directEst"
    )
    # merge law on the integer sketch tables (same device as
    # hll_shard_rollup: float-estimate equality can flip at a
    # rounding boundary; the (rank, hashValue) tables cannot)
    regcmp = (
        rolled_sk.withColumnRenamed("hashValue", "mh")
        .join(
            direct_sk.withColumnRenamed("hashValue", "dh"),
            on=["lang", "rank"],
            how="full",
        )
        .groupBy("lang")
        .agg(
            F.min(
                F.coalesce(F.col("mh") == F.col("dh"), F.lit(False))
            ).alias("mergeLawHolds")
        )
    )
    truth = (
        docs.select("lang", F.explode(toks).alias("token"))
        .groupBy("lang")
        .agg(F.count_distinct("token").cast("long").alias("trueDistinct"))
    )
    return (
        truth.join(rolled, on="lang")
        .join(direct, on="lang")
        .join(regcmp, on="lang")
        .select(
            "lang", "trueDistinct", "rolledUpEst", "directEst", "mergeLawHolds"
        )
    )


SQL_KMV_SHARD_ROLLUP = r"""
WITH toks AS (
  SELECT lang, CAST(doc_id % 4 AS INT) AS shard,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT lang, shard, UNNEST(t) AS token FROM toks),
hashed AS (
  SELECT DISTINCT lang, shard,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM occ
),
shard_sk AS (
  SELECT lang, shard, h FROM (
    SELECT lang, shard, h,
           ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= 128
),
rolled_sk AS (
  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rank
  FROM (SELECT DISTINCT lang, h FROM shard_sk)
  QUALIFY rank <= 128
),
direct_sk AS (
  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rank
  FROM (SELECT DISTINCT lang, h FROM hashed)
  QUALIFY rank <= 128
),
est_m AS (
  SELECT lang, COUNT(*) AS n, MAX(CASE WHEN rank = 128 THEN h END) AS kth
  FROM rolled_sk GROUP BY lang
),
est_d AS (
  SELECT lang, COUNT(*) AS n, MAX(CASE WHEN rank = 128 THEN h END) AS kth
  FROM direct_sk GROUP BY lang
),
fin_m AS (
  SELECT lang,
         ROUND(CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
                    ELSE 127.0 * POWER(2.0, 60) / CAST(kth AS DOUBLE) END, 4)
           AS rolledUpEst
  FROM est_m
),
fin_d AS (
  SELECT lang,
         ROUND(CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
                    ELSE 127.0 * POWER(2.0, 60) / CAST(kth AS DOUBLE) END, 4)
           AS directEst
  FROM est_d
),
regcmp AS (
  SELECT COALESCE(m.lang, d.lang) AS lang,
         BOOL_AND(COALESCE(m.h = d.h, FALSE)) AS mergeLawHolds
  FROM rolled_sk m FULL JOIN direct_sk d
    ON m.lang = d.lang AND m.rank = d.rank
  GROUP BY 1
),
truth AS (
  SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) AS trueDistinct
  FROM occ GROUP BY lang
)
SELECT t.lang, t.trueDistinct, m.rolledUpEst, d.directEst, r.mergeLawHolds
FROM truth t JOIN fin_m m USING (lang) JOIN fin_d d USING (lang)
     JOIN regcmp r USING (lang)
"""

NEARDUP_QUERIES["kmv_shard_rollup"] = q_kmv_shard_rollup
NEARDUP_ORACLES["kmv_shard_rollup"] = SQL_KMV_SHARD_ROLLUP


def q_cms_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Count-Min rollup: per-shard CMS tables (doc_id % 4,
    all shards sketched in ONE corpus scan via cms_sketch_grouped)
    merge to the whole-corpus sketch with a plain groupBy SUM over
    (row, bucket) — counters are additive, so the law is exact on
    integers. Emits per hash row: bucket count, total mass (rolled
    and direct), and the table-equality flag."""
    from genetics_spark_coloc_spark.operators.sketches import (
        cms_sketch,
        cms_sketch_grouped,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    depth, width = 4, 1024
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 4).cast("int")
    )
    toks = tokens(F.lower(F.col("text")))
    sharded = cms_sketch_grouped(docs, toks, ["shard"], depth, width)
    merged = sharded.groupBy("row", "bucket").agg(F.sum("cnt").alias("mcnt"))
    direct = cms_sketch(docs, toks, depth, width)
    cmp_ = merged.join(
        direct.withColumnRenamed("cnt", "dcnt"), on=["row", "bucket"], how="full"
    )
    return (
        cmp_.groupBy("row")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nBuckets"),
            F.sum(F.coalesce("mcnt", F.lit(0))).cast("long").alias("rolledTotal"),
            F.sum(F.coalesce("dcnt", F.lit(0))).cast("long").alias("directTotal"),
            F.min(
                F.coalesce(F.col("mcnt") == F.col("dcnt"), F.lit(False))
            ).alias("mergeLawHolds"),
        )
        .select("row", "nBuckets", "rolledTotal", "directTotal", "mergeLawHolds")
    )


SQL_CMS_SHARD_ROLLUP = r"""
WITH toks AS (
  SELECT CAST(doc_id % 4 AS INT) AS shard,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT shard, UNNEST(t) AS token FROM toks),
rows_ AS (SELECT UNNEST([0,1,2,3]) AS row),
sharded AS (
  SELECT o.shard, r.row,
         ('0x' || substr(md5(CAST(r.row AS VARCHAR) || '|' || o.token), 1, 15))::UBIGINT % 1024 AS bucket,
         COUNT(*) AS cnt
  FROM occ o CROSS JOIN rows_ r
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT row, bucket, SUM(cnt) AS mcnt FROM sharded GROUP BY 1, 2
),
direct AS (
  SELECT r.row,
         ('0x' || substr(md5(CAST(r.row AS VARCHAR) || '|' || o.token), 1, 15))::UBIGINT % 1024 AS bucket,
         COUNT(*) AS dcnt
  FROM occ o CROSS JOIN rows_ r
  GROUP BY 1, 2
)
SELECT COALESCE(m.row, d.row) AS row,
       CAST(COUNT(*) AS BIGINT) AS nBuckets,
       CAST(SUM(COALESCE(m.mcnt, 0)) AS BIGINT) AS rolledTotal,
       CAST(SUM(COALESCE(d.dcnt, 0)) AS BIGINT) AS directTotal,
       BOOL_AND(COALESCE(m.mcnt = d.dcnt, FALSE)) AS mergeLawHolds
FROM merged m FULL JOIN direct d ON m.row = d.row AND m.bucket = d.bucket
GROUP BY 1
"""

NEARDUP_QUERIES["cms_shard_rollup"] = q_cms_shard_rollup
NEARDUP_ORACLES["cms_shard_rollup"] = SQL_CMS_SHARD_ROLLUP


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/sketches.py
    distribution_drift_psi): Population Stability Index of the
    document-length distribution between two corpus snapshots —
    the per-ingest-batch drift gate a production pipeline runs from
    persisted grid sketches, never re-reading raw data. The "current"
    snapshot plants a deterministic shift (every 3rd document's text
    doubled) so the PSI is meaningfully nonzero and both engines
    replay the identical pseudo-mass correction."""
    from genetics_spark_coloc_spark.operators.sketches import (
        distribution_drift_psi,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    current = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" "), "text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return distribution_drift_psi(
        reference, current, F.length("text"), lo=0.0, hi=1024.0, n_bins=32
    )


SQL_CORPUS_DRIFT_PSI = r"""
WITH base AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents
),
ref AS (
  SELECT LEAST(31, GREATEST(0, CAST(FLOOR(length(text) / 1024.0 * 32) AS INT))) AS bin,
         COUNT(*) AS refCnt
  FROM base WHERE doc_id % 2 = 0 GROUP BY 1
),
cur AS (
  SELECT LEAST(31, GREATEST(0, CAST(FLOOR(length(t) / 1024.0 * 32) AS INT))) AS bin,
         COUNT(*) AS curCnt
  FROM (
    SELECT CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END AS t
    FROM base WHERE doc_id % 2 = 1
  ) GROUP BY 1
),
joined AS (
  SELECT COALESCE(r.bin, c.bin) AS bin,
         COALESCE(refCnt, 0) AS refCnt,
         COALESCE(curCnt, 0) AS curCnt
  FROM ref r FULL JOIN cur c ON r.bin = c.bin
),
tot AS (SELECT SUM(refCnt) AS rt, SUM(curCnt) AS ct FROM joined)
SELECT ROUND(SUM((p - q) * LN(p / q)), 6) AS psi,
       CAST(COUNT(*) AS BIGINT) AS nBins,
       CAST(MAX(rt) AS BIGINT) AS refTotal,
       CAST(MAX(ct) AS BIGINT) AS curTotal,
       ROUND(SUM((p - q) * LN(p / q)), 6) > 0.2 AS driftAlert
FROM (
  SELECT j.bin,
         CASE WHEN refCnt > 0 THEN CAST(refCnt AS DOUBLE) ELSE 0.5 END / rt AS p,
         CASE WHEN curCnt > 0 THEN CAST(curCnt AS DOUBLE) ELSE 0.5 END / ct AS q,
         rt, ct
  FROM joined j CROSS JOIN tot
)
"""

NEARDUP_QUERIES["corpus_drift_psi"] = q_corpus_drift_psi
NEARDUP_ORACLES["corpus_drift_psi"] = SQL_CORPUS_DRIFT_PSI


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — the
    corpus-health diagnostic (natural text follows freq ∝ rank^s with
    s ≈ −1; template/boilerplate-heavy or synthetic corpora deviate):
    least-squares slope and intercept of ln(freq) on ln(rank) over
    the top-200 tokens, plus R². The top-N cut is a
    TakeOrderedAndProject (no global sort materialization) and the
    rank window runs single-partition over those N rows only,
    declared via declared_single_partition (the repo's bounded-input
    window contract)."""
    from genetics_spark_coloc_spark.functions.reshape import (
        bounded_single_partition_rank,
    )
    from genetics_spark_coloc_spark.operators.text import tokens

    n_top = 200
    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = freqs.orderBy(F.desc("cnt"), F.asc("token")).limit(n_top)
    # rank carries the loud ≤n_top size guard (the limit upstream is
    # the contract; the guard makes a future edit that drops it fail
    # loudly instead of serializing the vocabulary through one task)
    rank = bounded_single_partition_rank(
        F.col("token"),
        [F.desc("cnt"), F.asc("token")],
        n_top,
        "zipf_slope",
    )
    pts = top.withColumn("rank", rank).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = pts.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").cast("long").alias("nTokens"),
        F.round(slope, 6).alias("zipfSlope"),
        F.round(intercept, 6).alias("zipfIntercept"),
        F.round(F.pow(r_num / r_den, 2), 6).alias("r2"),
    )


SQL_ZIPF_SLOPE = r"""
WITH toks AS (
  SELECT CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
freqs AS (
  SELECT token, COUNT(*) AS cnt
  FROM (SELECT UNNEST(t) AS token FROM toks)
  GROUP BY token
),
top AS (
  SELECT token, cnt FROM freqs ORDER BY cnt DESC, token ASC LIMIT 200
),
pts AS (
  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS DOUBLE)) AS x,
         LN(CAST(cnt AS DOUBLE)) AS y
  FROM top
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS nTokens,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipfSlope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS zipfIntercept,
       ROUND(POWER((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 2), 6) AS r2
FROM agg
"""

NEARDUP_QUERIES["zipf_slope"] = q_zipf_slope
NEARDUP_ORACLES["zipf_slope"] = SQL_ZIPF_SLOPE


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram diversity (distinct/total trigram ratio) per language —
    the standard self-repetition check run on synthetic/augmented
    corpora before training (low diversity = template collapse).
    One explode + one map-side-combined aggregate per group; the
    count-distinct is the only corpus-cardinality shuffle."""
    from genetics_spark_coloc_spark.operators.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(F.lower(F.coalesce(F.col("text"), F.lit(""))), 3)
    occ = docs.select("lang", F.explode(grams).alias("gram"))
    return (
        occ.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("totalNgrams"),
            F.count_distinct("gram").cast("long").alias("distinctNgrams"),
        )
        .select(
            "lang",
            "totalNgrams",
            "distinctNgrams",
            F.round(
                F.col("distinctNgrams") / F.col("totalNgrams").cast("double"), 6
            ).alias("diversity"),
        )
    )


SQL_NGRAM_DIVERSITY = r"""
WITH toks AS (
  SELECT lang,
         CASE WHEN length(trim(lower(COALESCE(text, '')))) = 0 THEN []
              ELSE string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') END AS t
  FROM documents
),
grams AS (
  -- per-document offset enumeration (scalar range + unnest), not a
  -- fixed CROSS JOIN range(0, 4096): the literal cap silently
  -- dropped grams for any doc beyond ~4098 tokens while the Spark
  -- side is unbounded
  SELECT lang,
         array_to_string(t[CAST(i AS INT) + 1 : CAST(i AS INT) + 3], ' ') AS gram
  FROM (
    SELECT lang, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i
    FROM toks
  )
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS totalNgrams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinctNgrams,
       ROUND(COUNT(DISTINCT gram) / CAST(COUNT(*) AS DOUBLE), 6) AS diversity
FROM grams
GROUP BY lang
"""

NEARDUP_QUERIES["ngram_diversity"] = q_ngram_diversity
NEARDUP_ORACLES["ngram_diversity"] = SQL_NGRAM_DIVERSITY


def q_kmv_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment estimate from KMV sketches alone (Beyer et al.
    2007 §4): what fraction of the EVAL corpus's token set also
    appears in the TRAIN corpus — the directional decontamination
    metric (Jaccard understates containment when the eval set is much
    smaller). On the pooled K smallest hashes: containment(eval ⊆
    train) ≈ nBoth / nEval, where nEval counts pool members from the
    eval sketch. True containment emitted alongside. All shuffles are
    sketch-bounded except the two corpus sketch passes."""
    from genetics_spark_coloc_spark.functions.reshape import (
        bounded_single_partition_rank,
    )
    from genetics_spark_coloc_spark.operators.sketches import kmv_sketch
    from genetics_spark_coloc_spark.operators.text import tokens

    k = 128
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "corpus", F.when(F.col("doc_id") % 20 == 0, "eval").otherwise("train")
    )
    toks = tokens(F.lower(F.col("text")))
    sk = kmv_sketch(docs, toks, ["corpus"], k=k)
    pool = (
        sk.select(
            "hashValue",
            F.when(F.col("corpus") == "train", 1).otherwise(0).alias("_inT"),
            F.when(F.col("corpus") == "eval", 1).otherwise(0).alias("_inE"),
        )
        .groupBy("hashValue")
        .agg(F.max("_inT").alias("_inT"), F.max("_inE").alias("_inE"))
    )
    kept = pool.withColumn(
        "_r",
        bounded_single_partition_rank(
            F.col("hashValue"), [F.col("hashValue")], 2 * k, "kmv_containment"
        ),
    ).filter(F.col("_r") <= k)
    est = kept.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("nPool"),
        F.sum("_inE").cast("long").alias("nEval"),
        F.sum(F.col("_inT") * F.col("_inE")).cast("long").alias("nBoth"),
    )
    membership = (
        docs.select("corpus", F.explode(toks).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(
            F.max(F.when(F.col("corpus") == "train", 1).otherwise(0)).alias("t"),
            F.max(F.when(F.col("corpus") == "eval", 1).otherwise(0)).alias("e"),
        )
    )
    truth = membership.groupBy().agg(
        F.count_if(F.col("e") == 1).cast("long").alias("trueEvalDistinct"),
        F.count_if((F.col("e") == 1) & (F.col("t") == 1))
        .cast("long")
        .alias("trueContained"),
    )
    return (
        est.crossJoin(truth)
        .select(
            "nPool",
            "nEval",
            "nBoth",
            F.round(
                F.col("nBoth").cast("double") / F.col("nEval").cast("double"), 6
            ).alias("estContainment"),
            "trueEvalDistinct",
            "trueContained",
            F.round(
                F.col("trueContained").cast("double")
                / F.col("trueEvalDistinct").cast("double"),
                6,
            ).alias("trueContainment"),
        )
    )


SQL_KMV_CONTAINMENT = r"""
WITH toks AS (
  SELECT CASE WHEN doc_id % 20 = 0 THEN 'eval' ELSE 'train' END AS corpus,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents
),
occ AS (SELECT DISTINCT corpus, UNNEST(t) AS token FROM toks),
hashed AS (
  SELECT DISTINCT corpus,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM occ
),
sk AS (
  SELECT corpus, h FROM (
    SELECT corpus, h, ROW_NUMBER() OVER (PARTITION BY corpus ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= 128
),
pool AS (
  SELECT h,
         MAX(CASE WHEN corpus = 'train' THEN 1 ELSE 0 END) AS inT,
         MAX(CASE WHEN corpus = 'eval' THEN 1 ELSE 0 END) AS inE
  FROM sk GROUP BY h
),
kept AS (
  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY h) AS r FROM pool)
  WHERE r <= 128
),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nPool,
         CAST(SUM(inE) AS BIGINT) AS nEval,
         CAST(SUM(inT * inE) AS BIGINT) AS nBoth
  FROM kept
),
truth AS (
  SELECT CAST(COUNT(*) FILTER (WHERE e = 1) AS BIGINT) AS trueEvalDistinct,
         CAST(COUNT(*) FILTER (WHERE e = 1 AND t = 1) AS BIGINT) AS trueContained
  FROM (
    SELECT token,
           MAX(CASE WHEN corpus = 'train' THEN 1 ELSE 0 END) AS t,
           MAX(CASE WHEN corpus = 'eval' THEN 1 ELSE 0 END) AS e
    FROM occ GROUP BY token
  )
)
SELECT e.nPool, e.nEval, e.nBoth,
       ROUND(CAST(e.nBoth AS DOUBLE) / CAST(e.nEval AS DOUBLE), 6) AS estContainment,
       t.trueEvalDistinct, t.trueContained,
       ROUND(CAST(t.trueContained AS DOUBLE) / CAST(t.trueEvalDistinct AS DOUBLE), 6) AS trueContainment
FROM est e CROSS JOIN truth t
"""

NEARDUP_QUERIES["kmv_containment"] = q_kmv_containment
NEARDUP_ORACLES["kmv_containment"] = SQL_KMV_CONTAINMENT


def q_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of MinHash-LSH candidate pairs —
    the character-level second stage (complement of the shingle-set
    ngram_jaccard verifier): per candidate pair, Levenshtein distance
    on max_len-truncated texts, editRatio = 1 − dist/max(len), and
    the isDup accept flag. Pairs come from the guarded banded
    generator; texts join in via two hash joins; the Levenshtein
    kernel runs JVM-side inside codegen.

    Suite-cost bound (r12 verdict #3): the EXACT O(len²) kernel is
    the oracle mode, and its decision parity on the FULL pair set is
    already proven by the banded twin (``edit_distance_banded``, full
    set, Ukkonen band at the decision-exact k) — so this query
    verifies exact distances on a deterministic md5-sampled QUARTER
    of the pairs (first hex digit of md5("left|right") in 0-3;
    engine-agnostic, mirrored in the oracle SQL). Zero coverage loss:
    banded decisions × full set + exact distances × fixed sample."""
    from genetics_spark_coloc_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=8, band_size=2
    ).filter(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("leftId").cast("string"),
                    F.col("rightId").cast("string"),
                )
            ),
            1,
            1,
        )
        <= "3"
    )
    return dedup.edit_distance_verify(
        docs, pairs, "text", "doc_id", ratio_threshold=0.8, max_len=2000
    )


SQL_EDIT_DISTANCE_DEDUP = """
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
),
cand AS (
  SELECT DISTINCT l.docId AS leftId, r.docId AS rightId
  FROM bands l
  JOIN bands r ON l.bandIdx = r.bandIdx AND l.bandHash = r.bandHash
             AND l.docId < r.docId
),
-- deterministic exact-verification sample: the banded twin proves
-- decision parity on the FULL pair set; the exact kernel runs on the
-- md5 quarter (same predicate as the Spark side)
sampled AS (
  SELECT * FROM cand
  WHERE substr(md5(CAST(leftId AS VARCHAR) || '|' || CAST(rightId AS VARCHAR)), 1, 1) <= '3'
),
tx AS (
  SELECT doc_id, substr(COALESCE(text, ''), 1, 2000) AS t FROM documents
)
SELECT c.leftId, c.rightId,
       CAST(levenshtein(lt.t, rt.t) AS BIGINT) AS editDistance,
       ROUND(CASE WHEN GREATEST(length(lt.t), length(rt.t)) = 0 THEN 1.0
             ELSE 1.0 - levenshtein(lt.t, rt.t)
                        / CAST(GREATEST(length(lt.t), length(rt.t)) AS DOUBLE)
             END, 6) AS editRatio,
       ROUND(CASE WHEN GREATEST(length(lt.t), length(rt.t)) = 0 THEN 1.0
             ELSE 1.0 - levenshtein(lt.t, rt.t)
                        / CAST(GREATEST(length(lt.t), length(rt.t)) AS DOUBLE)
             END, 6) >= 0.8 AS isDup
FROM sampled c
JOIN tx lt ON lt.doc_id = c.leftId
JOIN tx rt ON rt.doc_id = c.rightId
"""

NEARDUP_QUERIES["edit_distance_dedup"] = q_edit_distance_dedup
NEARDUP_ORACLES["edit_distance_dedup"] = SQL_EDIT_DISTANCE_DEDUP


def q_edit_distance_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production accept/reject twin of edit_distance_dedup:
    banded Levenshtein (Ukkonen diagonal band, O(k·len) per pair vs
    O(len²)) at the decision-exact k = ceil((1−θ)·max_len)+1 = 401.
    Pairs banded away (true distance > k) report NULL distance/ratio
    and isDup=false — provably the same accept/reject decision as the
    exact kernel on every pair, at a fraction of the cost."""
    from genetics_spark_coloc_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", num_perm=8, band_size=2
    )
    return dedup.edit_distance_verify(
        docs,
        pairs,
        "text",
        "doc_id",
        ratio_threshold=0.8,
        max_len=2000,
        threshold=dedup.edit_distance_band(0.8, 2000),
    )


# same candidate CTEs as SQL_EDIT_DISTANCE_DEDUP; the banded contract
# (NULL past k=401, isDup needs dist <= k) expressed over DuckDB's
# exact levenshtein
SQL_EDIT_DISTANCE_BANDED = """
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
),
cand AS (
  SELECT DISTINCT l.docId AS leftId, r.docId AS rightId
  FROM bands l
  JOIN bands r ON l.bandIdx = r.bandIdx AND l.bandHash = r.bandHash
             AND l.docId < r.docId
),
tx AS (
  SELECT doc_id, substr(COALESCE(text, ''), 1, 2000) AS t FROM documents
),
scored AS (
  SELECT c.leftId, c.rightId,
         levenshtein(lt.t, rt.t) AS d,
         GREATEST(length(lt.t), length(rt.t)) AS maxSide
  FROM cand c
  JOIN tx lt ON lt.doc_id = c.leftId
  JOIN tx rt ON rt.doc_id = c.rightId
)
SELECT leftId, rightId,
       CAST(CASE WHEN d <= 401 THEN d END AS BIGINT) AS editDistance,
       CASE WHEN d <= 401 THEN
         ROUND(CASE WHEN maxSide = 0 THEN 1.0
               ELSE 1.0 - d / CAST(maxSide AS DOUBLE) END, 6)
       END AS editRatio,
       COALESCE(d <= 401 AND
         ROUND(CASE WHEN maxSide = 0 THEN 1.0
               ELSE 1.0 - d / CAST(maxSide AS DOUBLE) END, 6) >= 0.8,
         FALSE) AS isDup
FROM scored
"""

NEARDUP_QUERIES["edit_distance_banded"] = q_edit_distance_banded
NEARDUP_ORACLES["edit_distance_banded"] = SQL_EDIT_DISTANCE_BANDED


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency segment removal (C4-style line dedup,
    separator-generic). The synthetic documents carry no newlines, so
    this query exercises the operator at TOKEN granularity (sep=' ',
    tokens occurring >40 times corpus-wide dropped) — the full
    posexplode → hashed frequency → rebuild path with real
    frequencies; the '\\n' production form is pinned by the planted
    multi-line unit test."""
    from genetics_spark_coloc_spark.operators.text import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup(
        docs, "text", "doc_id", sep=" ", max_count=40, min_segment_chars=1
    )


SQL_LINE_DEDUP = """
WITH segs AS (
  SELECT docId, CAST(i AS INT) AS pos, parts[CAST(i AS INT) + 1] AS seg
  FROM (
    SELECT doc_id AS docId,
           string_split(COALESCE(text, ''), ' ') AS parts,
           unnest(range(len(string_split(COALESCE(text, ''), ' ')))) AS i
    FROM documents
  )
),
freq AS (
  SELECT md5(trim(seg)) AS h, COUNT(*) AS c FROM segs GROUP BY 1
),
marked AS (
  SELECT s.docId, s.pos, s.seg,
         (f.c > 40 AND length(trim(s.seg)) >= 1) AS dropped
  FROM segs s JOIN freq f ON f.h = md5(trim(s.seg))
)
SELECT docId,
       CAST(COUNT(*) AS BIGINT) AS nSegments,
       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS nDropped,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE NOT dropped),
                '') AS cleanText
FROM marked
GROUP BY docId
"""

NEARDUP_QUERIES["line_dedup"] = q_line_dedup
NEARDUP_ORACLES["line_dedup"] = SQL_LINE_DEDUP


def q_delta_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental C4 scrub: the corpus (doc_id % 10 != 0) persists
    its token-frequency table logically (line_frequency_table), and
    the DELTA (doc_id % 10 == 0) is scrubbed against THAT — corpus
    evidence only, the delta never self-counts (a token unique in the
    corpus survives in the delta however often the delta repeats it).
    Same token granularity as the ``line_dedup`` query; the '\\n'
    production form and the streaming twin are pinned by unit tests."""
    from genetics_spark_coloc_spark.operators.text import (
        line_dedup,
        line_frequency_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    freq = line_frequency_table(corpus, "text", sep=" ")
    return line_dedup(
        delta, "text", "doc_id", sep=" ", max_count=40,
        min_segment_chars=1, freq_table=freq,
    )


SQL_DELTA_LINE_DEDUP = """
WITH segs AS (
  SELECT docId, CAST(i AS INT) AS pos, parts[CAST(i AS INT) + 1] AS seg
  FROM (
    SELECT doc_id AS docId,
           string_split(COALESCE(text, ''), ' ') AS parts,
           unnest(range(len(string_split(COALESCE(text, ''), ' ')))) AS i
    FROM documents
    WHERE doc_id % 10 = 0
  )
),
freq AS (
  SELECT md5(trim(seg)) AS h, COUNT(*) AS c
  FROM (
    SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS seg
    FROM documents
    WHERE doc_id % 10 != 0
  )
  GROUP BY 1
),
marked AS (
  SELECT s.docId, s.pos, s.seg,
         (COALESCE(f.c, 0) > 40 AND length(trim(s.seg)) >= 1) AS dropped
  FROM segs s LEFT JOIN freq f ON f.h = md5(trim(s.seg))
)
SELECT docId,
       CAST(COUNT(*) AS BIGINT) AS nSegments,
       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS nDropped,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE NOT dropped),
                '') AS cleanText
FROM marked
GROUP BY docId
"""

NEARDUP_QUERIES["delta_line_dedup"] = q_delta_line_dedup
NEARDUP_ORACLES["delta_line_dedup"] = SQL_DELTA_LINE_DEDUP


def q_delta_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicate-cluster maintenance
    (operators/graph.incremental_connected_components): history is
    clustered ONCE (converged CC over the index split's pairs); the
    delta folds in through its O(delta) edge set only — delta-vs-index
    candidates from the incremental LSH path plus intra-delta pairs —
    contracted onto existing component labels, solved by the same
    pointer-doubling kernel on the TINY reduced graph, and applied to
    history as a broadcast remap (zero shuffle on the history side).
    The oracle is the FULL-corpus recursive-CTE components over the
    planted union graph: the certificate that incremental maintenance
    equals the full recompute."""
    from pyspark.sql import Window  # noqa: PLC0415

    from genetics_spark_coloc_spark.operators import dedup
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        incremental_connected_components,
    )

    delta, hist = _planted_delta_corpus(spark, sf_dir)
    # band history ONCE: the same band table feeds the history
    # self-pairs and the delta-vs-index join (the step persists
    # exactly this table; re-banding per consumer doubles the corpus
    # scans). Lazy checkpoint so the executed plan derives it once.
    bands_hist = dedup.lsh_band_index(
        hist, text_col="content", num_perm=8, band_size=2
    ).localCheckpoint(eager=False)
    # star=True: these pairs feed ONLY the CC solve — per-bucket
    # spanning star, identical components, ~m/2× fewer edges (r14)
    hist_pairs = dedup.band_self_pairs(bands_hist, star=True)
    # band the delta ONCE (r14): the cross join and the intra-delta
    # star pairs share one shingle→minhash chain via delta_bands
    bands_delta = dedup._band_hashes(
        delta, "content", "doc_id", 8, 2
    ).localCheckpoint(eager=False)
    # (r14 dead end, kept so it is not re-tried: materializing
    # bands_delta on a SIDE THREAD overlapped with the history CC
    # loop — guide §2.6 — drilled 11.8 → 14.3 s solo: the concurrent
    # job stretches every loop-action wave on this workload.)
    # the incremental solve consumes the history labeling four times
    # (two canonicalization joins, the history remap, the new-vertex
    # anti-join); the lazy checkpoint stops the CC tail (isolated-
    # vertex anti-join + union) re-executing per consumer (r14)
    labels_hist = connected_components(
        hist.select(F.col("doc_id").alias("id")),
        hist_pairs,
        num_rounds=16,
        # star pairs are distinct oriented: skip the symmetric dedup
        dedup_edges=False,
    ).localCheckpoint(eager=False)
    delta_cross = dedup.incremental_lsh_candidates(
        delta,
        index_bands=bands_hist,
        text_col="content",
        num_perm=8,
        band_size=2,
        delta_bands=bands_delta,
    ).select(
        F.col("deltaId").alias("leftId"), F.col("indexId").alias("rightId")
    )
    delta_self = dedup.band_self_pairs(bands_delta, star=True).select(
        "leftId", "rightId"
    )
    comp = incremental_connected_components(
        labels_hist,
        delta_cross.unionByName(delta_self),
        delta_vertices=delta.select(F.col("doc_id").alias("id")),
        num_rounds=16,
    )
    # cluster size via ONE window on the component exchange — the old
    # groupBy + join-back executed comp's final subtree twice (r14)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias("docId"),
        F.col("component").alias("clusterId"),
        F.count(F.lit(1)).over(w).cast("long").alias("clusterSize"),
        (F.col("id") == F.col("component")).alias("isKeeper"),
    )


SQL_DELTA_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_PLANTED_DELTA_SQL.strip()},
sh AS (
  SELECT DISTINCT doc_id AS docId,
         substr(lower(content), CAST(i AS INT) * 4 + 1, 8) AS shingle
  FROM planted CROSS JOIN range(0, 64) AS t(i)
  WHERE CAST(i AS INT) < CAST(FLOOR(LEAST(GREATEST((length(lower(content)) - 8) / 4 + 1, 1), 64)) AS INT)
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
),
pairs AS (
  SELECT DISTINCT l.docId AS leftId, r.docId AS rightId
  FROM bands l
  JOIN bands r ON l.bandIdx = r.bandIdx AND l.bandHash = r.bandHash
             AND l.docId < r.docId
),
edges AS (
  SELECT leftId AS src, rightId AS dst FROM pairs
  UNION
  SELECT rightId, leftId FROM pairs
),
comp(id, lab) AS (
  SELECT doc_id, doc_id FROM planted
  UNION
  SELECT e.dst, c.lab FROM comp c JOIN edges e ON e.src = c.id
),
final AS (
  SELECT id, MIN(lab) AS clusterId FROM comp GROUP BY id
),
sizes AS (
  SELECT clusterId, CAST(COUNT(*) AS BIGINT) AS clusterSize
  FROM final GROUP BY clusterId
)
SELECT f.id AS docId, f.clusterId, s.clusterSize,
       f.id = f.clusterId AS isKeeper
FROM final f JOIN sizes s USING (clusterId)
"""

NEARDUP_QUERIES["delta_dedup_clusters"] = q_delta_dedup_clusters
NEARDUP_ORACLES["delta_dedup_clusters"] = SQL_DELTA_DEDUP_CLUSTERS


def q_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff trigram LM document scores, self-trained
    (operators/text.lm_stupid_backoff_score) — the CCNet perplexity
    filter at its production order: S(w|u v) = cnt(u v w)/cnt(u v)
    when seen else 0.4·S(w|v), add-one unigram OOV floor (Brants et
    al. 2007; Wenzek et al. 2020)."""
    from genetics_spark_coloc_spark.operators.text import (
        lm_stupid_backoff_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return lm_stupid_backoff_score(docs, "text", "doc_id")


def q_delta_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN-model Stupid-Backoff scoring — the production CCNet
    shape (train the LM once on the reference corpus, score every
    new crawl against it): model = ngram_lm_table over doc_id%10!=0,
    scored set = the doc_id%10==0 delta, whose OOV tokens exercise
    the add-one unigram floor. The at-rest twin is the ``lm_table``
    step (build/append/compact under the writer lease)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from genetics_spark_coloc_spark.operators.text import (
        lm_stupid_backoff_score,
        ngram_lm_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    model = ngram_lm_table(docs.filter(F.col("doc_id") % 10 != 0))
    # lm_aggregated: the model comes straight from ngram_lm_table
    # (one row per gram), so the operator's shard re-aggregation is an
    # identity — declaring it skips a full gram-keyed exchange (r14)
    return lm_stupid_backoff_score(
        docs.filter(F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        lm=model,
        lm_aggregated=True,
    )


_SQL_LM_BODY = r"""
WITH toks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents {train_where}
),
allg AS (
  SELECT UNNEST(
    t ||
    CASE WHEN len(t) - 1 >= 1
         THEN list_transform(range(0, len(t) - 1),
                             i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
         ELSE [] END ||
    CASE WHEN len(t) - 2 >= 1
         THEN list_transform(range(0, len(t) - 2),
                             i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
         ELSE [] END
  ) AS gram
  FROM toks
),
cnt AS (SELECT gram, COUNT(*) AS c FROM allg GROUP BY gram),
tot AS (SELECT SUM(c) AS N, COUNT(*) AS V FROM cnt WHERE NOT contains(gram, ' ')),
stoks AS (
  SELECT doc_id AS docId,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
  FROM documents {score_where}
),
keys AS (
  SELECT docId, UNNEST(
    list_slice(t, 1, 1) ||
    CASE WHEN len(t) >= 2
         THEN [array_to_string(list_slice(t, 1, 2), ' ')] ELSE [] END ||
    CASE WHEN len(t) - 2 >= 1
         THEN list_transform(range(0, len(t) - 2),
                             i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
         ELSE [] END
  ) AS key
  FROM stoks
),
parts AS (
  -- every lookup key is precomputed as a NULL-guarded COLUMN so the
  -- five count joins below are pure hash equi-joins (a NULL key never
  -- matches); folding the k-guards into the join conditions instead
  -- makes DuckDB fall back to nested-loop joins against the full
  -- gram-count table, which does not finish at sf0.1
  SELECT docId, key, len(w) AS k,
         w[len(w)] AS kg1,
         CASE WHEN len(w) >= 2
              THEN array_to_string(list_slice(w, len(w) - 1, len(w)), ' ')
         END AS kg2,
         CASE WHEN len(w) >= 2 THEN w[len(w) - 1] END AS kgx2,
         CASE WHEN len(w) = 3 THEN key END AS kg3,
         CASE WHEN len(w) = 3
              THEN array_to_string(list_slice(w, 1, 2), ' ')
         END AS kgx3
  FROM (SELECT docId, key, string_split(key, ' ') AS w FROM keys)
),
looked AS (
  SELECT p.docId, p.k,
         COALESCE(u1.c, 0) AS c1,
         COALESCE(b2.c, 0) AS c2,
         COALESCE(u2.c, 0) AS cx2,
         COALESCE(t3.c, 0) AS c3,
         COALESCE(b3.c, 0) AS cx3
  FROM parts p
  LEFT JOIN cnt u1 ON u1.gram = p.kg1
  LEFT JOIN cnt b2 ON b2.gram = p.kg2
  LEFT JOIN cnt u2 ON u2.gram = p.kgx2
  LEFT JOIN cnt t3 ON t3.gram = p.kg3
  LEFT JOIN cnt b3 ON b3.gram = p.kgx3
),
scored AS (
  SELECT docId, COUNT(*) AS nTokens,
         AVG(LN(
           CASE WHEN k = 3 THEN
             CASE WHEN c3 > 0 AND cx3 > 0 THEN c3 * 1.0 / cx3
                  ELSE 0.4 * (CASE WHEN c2 > 0 AND cx2 > 0
                                   THEN c2 * 1.0 / cx2
                                   ELSE 0.4 * ((c1 + 1.0) / (tot.N + tot.V))
                              END)
             END
           WHEN k = 2 THEN
             CASE WHEN c2 > 0 AND cx2 > 0 THEN c2 * 1.0 / cx2
                  ELSE 0.4 * ((c1 + 1.0) / (tot.N + tot.V)) END
           ELSE (c1 + 1.0) / (tot.N + tot.V) END
         )) AS alp
  FROM looked CROSS JOIN tot
  GROUP BY docId
)
SELECT d.docId,
       COALESCE(s.nTokens, 0) AS nTokens,
       ROUND(s.alp, 6) AS avgLogScore,
       ROUND(EXP(-s.alp), 6) AS pseudoPerplexity
FROM (SELECT DISTINCT doc_id AS docId FROM documents {score_where}) d
LEFT JOIN scored s USING (docId)
"""

SQL_LM_STUPID_BACKOFF = _SQL_LM_BODY.format(train_where="", score_where="")
SQL_DELTA_LM_SCORE = _SQL_LM_BODY.format(
    train_where="WHERE doc_id % 10 != 0", score_where="WHERE doc_id % 10 = 0"
)

NEARDUP_QUERIES["lm_stupid_backoff"] = q_lm_stupid_backoff
NEARDUP_ORACLES["lm_stupid_backoff"] = SQL_LM_STUPID_BACKOFF
NEARDUP_QUERIES["delta_lm_score"] = q_delta_lm_score
NEARDUP_ORACLES["delta_lm_score"] = SQL_DELTA_LM_SCORE


def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the INVERTED-INDEX form (operators/text.bm25_postings
    + bm25_search) — same query terms and score contract as
    `bm25_retrieval`, but the corpus is reduced to postings first and
    the search touches only the query terms' rows (the at-rest twin is
    the `bm25_index`/`bm25_query` steps, where the pfx partitioning
    statically prunes the scan). Verifies the index path end-to-end
    against the direct-BM25 oracle."""
    from genetics_spark_coloc_spark.operators.text import (
        bm25_corpus_stats,
        bm25_postings,
        bm25_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(
        bm25_postings(docs), ["hash", "join", "vector"], bm25_corpus_stats(docs)
    )


NEARDUP_QUERIES["bm25_index_search"] = q_bm25_index_search
NEARDUP_ORACLES["bm25_index_search"] = SQL_BM25_RETRIEVAL
