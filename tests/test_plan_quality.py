"""Plan-quality tests: the scale guardrails.

These assert properties of the PHYSICAL plan that matter at 100 TB:
filters reach the parquet scan, projections prune columns, the hot
genetics operators never route rows through Python, and range joins
stay hash-shaped (no nested loop).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.contract import QUERIES
from genetics_spark_coloc_spark.plans.inspect import (
    has_cartesian,
    has_python_eval,
    optimized_plan,
    physical_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
)

SF_DIR = "/root/testdata/sf0.001"

# every contract query except the applyInPandas kernel, the
# Arrow-batched multimodal decode, and the vectorized hyperplane
# projection (BLAS matmul per Arrow batch — similarity.py
# hyperplane_signature_bits) must stay JVM-side end to end
PYTHON_ALLOWED = {
    "finemap_susie",
    "multimodal_features",
    "embedding_near_dup",
    # BLAS centroid quantizer (similarity.py assign_to_centroids)
    "ivf_topk",
    # recall@k certification composes ivf_topk (same BLAS kernel)
    "ann_recall",
    # Lloyd k-means trains through the same BLAS assignment kernel
    "kmeans_centroids",
    # SemDeDup composes k-means training + BLAS assignment
    "semantic_dedup",
    # PQ encode / ADC search / IVF-PQ: per-subspace BLAS products and
    # lookup-table gathers per Arrow batch (operators/pq.py)
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_python_eval_in_contract_plans(spark, name):
    from genetics_spark_coloc_spark.plans.inspect import (
        unpartitioned_window_count,
    )

    df = QUERIES[name](spark, SF_DIR)
    # EVERY query: no ordered window with an empty partition spec
    # (silently single-partitions the whole input; bounded windows
    # declare their single partition via declared_single_partition)
    n = unpartitioned_window_count(df)
    assert n == 0, f"{name}: {n} unpartitioned ordered window(s)"
    if name in PYTHON_ALLOWED:
        pytest.skip("applyInPandas kernel is the designed exception")
    assert not has_python_eval(df), f"{name} routes rows through Python workers"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        F.col("l_orderkey") == 42
    ).select("l_orderkey", "l_quantity")
    pushed = pushed_filters(df)
    assert any("l_orderkey" in p for p in pushed), f"no pushdown: {pushed}"


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    schemas = read_schemas(df)
    assert schemas and all("l_extendedprice" not in s for s in schemas), schemas


def test_binned_range_join_is_not_nested_loop(spark):
    """The locus-statistics range join must plan as a hash join on the
    bin key, never BroadcastNestedLoopJoin/CartesianProduct."""
    df = QUERIES["locus_statistics"](spark, SF_DIR)
    assert not has_cartesian(df), "range join degenerated to nested loop"


def test_overlaps_plan_shuffle_budget(spark):
    """find_overlaps should need a bounded number of exchanges (self
    join + aligns + distinct); catch accidental shuffle explosions.

    The static plan duplicates the persisted tag-derivation exchanges
    once per consuming branch (3-4×) even though execution reuses the
    cached partitions, and the count varies with whether the cache is
    materialized when the plan prints. 24 is the regression tripwire
    for a genuine shuffle explosion (a naive rewrite lands ~2× that).
    """
    df = QUERIES["find_overlaps"](spark, SF_DIR)
    assert shuffle_count(df) <= 24, f"too many exchanges: {shuffle_count(df)}"


@pytest.mark.parametrize("method", ["ecaviar", "coloc"])
def test_coloc_methods_plan_no_join(spark, tmp_path, method):
    """Each colocalisation method is one aggregation over its overlap
    input: the beta-ratio sign average rides inside it, so the
    optimised plan holds no join (a join back onto a second
    aggregation of the same input would plan that input twice)."""
    from genetics_spark_coloc_spark.operators import coloc

    path = str(tmp_path / "overlaps")
    spark.createDataFrame(
        [("1", "2", "eqtl", "1", "snp", (1.0, 2.0, 0.1, -0.2, 0.9, 0.8))],
        "leftStudyLocusId string, rightStudyLocusId string, "
        "rightStudyType string, chromosome string, tagVariantId string, "
        "statistics struct<left_logBF: double, right_logBF: double, "
        "left_beta: double, right_beta: double, "
        "left_posteriorProbability: double, right_posteriorProbability: double>",
    ).write.parquet(path)
    df = getattr(coloc, method)(spark.read.parquet(path))
    plan = optimized_plan(df)
    assert "Join" not in plan, plan


def test_coloc_pipeline_plan_is_cut_at_study_locus(spark, tmp_path):
    """coloc_pipeline cuts its plan at the credible-set study-locus
    table: the overlaps and both methods are planned over a checkpoint
    leaf, so the optimised plan holds none of the upstream clumping and
    fine-mapping windows and no parquet scan of either source."""
    from genetics_spark_coloc_spark.pipelines import coloc_pipeline

    rows = [
        ("S1", f"1_{1_000_000 + i * 1000}_A_C", "1", 1_000_000 + i * 1000,
         0.5 if i == 3 else 0.05, 0.05, 1.0, -20 if i == 3 else -9)
        for i in range(8)
    ]
    schema = (
        "studyId string, variantId string, chromosome string, position int, "
        "beta double, standardError double, pValueMantissa float, pValueExponent int"
    )
    for side in ("gwas", "qtl"):
        spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / side))
    df = coloc_pipeline(
        spark.read.parquet(str(tmp_path / "gwas")),
        spark.read.parquet(str(tmp_path / "qtl")),
        distance=100_000,
    )
    plan = optimized_plan(df)
    assert "Window [" not in plan
    assert "FileScan parquet" not in plan


def test_interval_and_ivf_joins_stay_hash_shaped(spark):
    """Binned interval join (explained_by_finemap) and the IVF
    cluster join must never degenerate to CartesianProduct; the
    only nested-loop allowed is an explicit tiny broadcast."""
    for name in ["explained_by_finemap", "locus_breaker_split"]:
        df = QUERIES[name](spark, SF_DIR)
        assert not has_cartesian(df), f"{name} degenerated to nested loop"


def test_asof_join_single_shuffle(spark):
    """The as-of join is one exchange per side feeding the union —
    the window must not introduce extra shuffles beyond the key
    partition."""
    df = QUERIES["asof_attribution"](spark, SF_DIR)
    assert shuffle_count(df) <= 3, f"asof shuffles: {shuffle_count(df)}"


def test_stateless_text_filters_are_shuffle_free(spark):
    """pii_scrub and gopher_quality advertise themselves as pure
    pushed-down projections — at 100 TB that claim is the difference
    between a map-only pass and a cluster-wide exchange, so CI pins
    it to the physical plan."""
    for name in ["pii_scrub", "gopher_quality"]:
        df = QUERIES[name](spark, SF_DIR)
        assert shuffle_count(df) == 0, f"{name}: {shuffle_count(df)} exchanges"


def test_cosine_topk_is_a_kernel_scan(spark):
    """r15: cosine_topk runs the BLAS certify kernel — the query
    sample rides the task closure, so the plan is ONE MapInPandas
    corpus scan feeding the closing exact rank window, with no pair
    join of any strategy left (the pre-r15 pin asserted the broadcast
    pair join of the interpreted column form, since deleted)."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    plan = physical_plan(QUERIES["cosine_topk"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan


def test_winnow_and_sq8_are_shuffle_free(spark):
    """winnow_fingerprint and sq8_encode advertise themselves as
    in-row array math (no explode, no shuffle) — pinned to the
    physical plan like the stateless text filters above."""
    for name in ["winnow_fingerprint", "sq8_encode"]:
        df = QUERIES[name](spark, SF_DIR)
        assert shuffle_count(df) == 0, f"{name}: {shuffle_count(df)} exchanges"


def test_bm25_corpus_pass_broadcasts_stats(spark):
    """bm25_scores' corpus statistics (avgdl, per-term df) must ride a
    BroadcastExchange back onto the corpus scan — a SortMergeJoin here
    would shuffle the whole corpus for a 1-row table; and the plan
    must contain at most the broadcast exchange pair, never a
    corpus-keyed exchange."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    df = QUERIES["bm25_retrieval"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_retrieval_funnel_broadcasts_query_side(spark):
    """Brute-force retrieval stages must never shuffle the corpus by
    a query key: hamming_topk / mrl_funnel broadcast the query side
    (a SortMergeJoin would shuffle the whole corpus per query batch);
    sq8_topk (r14) goes further — the queries ride the task closure
    into a MapInPandas BLAS kernel, so there is no pair join at all."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    for name in ["hamming_topk", "mrl_funnel"]:
        plan = physical_plan(QUERIES[name](spark, SF_DIR))
        assert (
            "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        ), name
    plan = physical_plan(QUERIES["sq8_topk"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    """The A-Res top-n must compile to TakeOrderedAndProject — a
    global Sort would materialize the whole corpus ordering for a
    50-row answer."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    plan = physical_plan(QUERIES["weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_no_unpartitioned_windows_in_ann_and_retrieval_plans(spark):
    """Every ranking window in the ANN / retrieval / sampling plans is
    either keyed by queryId or declared single-partition over a
    bounded input (r5 ADVICE): an empty partition spec would move ALL
    rows to one partition silently. Pinned to the physical plan."""
    from genetics_spark_coloc_spark.plans.inspect import (
        unpartitioned_window_count,
    )

    for name in [
        "pq_adc_topk",
        "ivfpq_topk",
        "mrl_funnel",
        "cosine_topk",
        "hamming_topk",
        "sq8_topk",
        "hybrid_retrieval",
        "top_tokens",
        "binary_metrics",
        "pq_encode",
    ]:
        df = QUERIES[name](spark, SF_DIR)
        n = unpartitioned_window_count(df)
        assert n == 0, f"{name}: {n} unpartitioned window(s)"


def test_span_queries_stay_hash_shaped_and_bounded(spark):
    """The new maximal-match pipeline must stay hash-join shaped (the
    gram pair join and the island-annotation join are equi joins with
    residuals — never CartesianProduct), with a bounded exchange
    count and no unpartitioned windows (diagonal runs partition by
    (leftId, rightId, offset); islands by docId)."""
    from genetics_spark_coloc_spark.plans.inspect import (
        has_cartesian,
        shuffle_count,
        unpartitioned_window_count,
    )

    for name, budget in [
        ("dup_spans", 6),
        ("verbatim_matches", 10),
        ("dup_span_lengths", 20),
    ]:
        df = QUERIES[name](spark, SF_DIR)
        assert not has_cartesian(df), name
        assert shuffle_count(df) <= budget, (name, shuffle_count(df))
        assert unpartitioned_window_count(df) == 0, name


def test_curation_funnel_single_text_scan(spark):
    """All three row-local funnel stages (quality, repetition, PII)
    must ride ONE fused projection: the physical plan scans the
    documents parquet exactly once — at 100 TB a per-stage scan would
    triple the funnel's I/O — and the only exchange is the keeper
    window's hash partitioning."""
    from genetics_spark_coloc_spark.contract import QUERIES
    from genetics_spark_coloc_spark.plans.inspect import (
        physical_plan,
        shuffle_count,
    )

    df = QUERIES["curation_funnel"](spark, SF_DIR)
    plan = physical_plan(df)
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"curation_funnel scans parquet {n_scans}x:\n{plan}"
    assert "Join" not in plan, f"fused funnel must not join:\n{plan}"
    assert shuffle_count(df) <= 1, physical_plan(df)


def test_bloom_prune_fact_side_never_shuffles(spark):
    """bloom_prune's contract: the fact table is pruned by k broadcast
    LEFT SEMI joins on hashed bit positions and is NEVER exchanged —
    the whole point of bloom pruning at 100 TB. The bloom side rides a
    lineage barrier, so the query plan must contain exactly the three
    BroadcastHashJoins and zero hash-partitioned exchanges."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    df = QUERIES["bloom_prune_scan"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "LeftSemi" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


TOPK_QUERIES = [
    "cosine_topk",
    "hamming_topk",
    "pq_adc_topk",
    "mrl_topk",
    "sq8_topk",
    "top1_per_group",
    "ivf_topk",
    "kmv_overlap",
    # the shard rollup re-ranks pooled sketch values (kmv_merge) —
    # same rank<=k shape, same pushdown contract
    "kmv_shard_rollup",
]


@pytest.mark.parametrize("name", TOPK_QUERIES)
def test_topk_rank_filter_gets_window_group_limit(spark, name):
    """Every rank<=k operator must keep Catalyst's Partial+Final
    WindowGroupLimit rewrite (SPARK-37099): each map partition ships
    at most k rows per group into the rank exchange. Losing it (e.g.
    by interposing a projection between the filter and the window)
    silently turns a top-k into a full per-group sort shuffle at
    100 TB."""
    from genetics_spark_coloc_spark.plans.inspect import physical_plan

    plan = physical_plan(QUERIES[name](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, f"{name} lost the rank-limit pushdown"


def test_persisted_band_index_no_exchange_on_index_side(spark):
    """The persisted bucketed LSH band index is the production shape
    of incremental dedup: with the index read from a table bucketed
    by (bandIdx, bandHash), the ENTIRE index side of the delta join —
    the guard's count aggregate, the guard's semi join, and the main
    band join — must run WITHOUT a single exchange, because the
    bucketed scan already provides HashPartitioning on the join keys.
    At 100 TB that is the difference between shuffling the corpus
    band table per delta batch and never touching it again.

    Broadcast is disabled so the pin holds in the shape a real corpus
    takes (the index side is far too big to broadcast); with it, the
    only exchanges left are delta-side (guard count + join input) and
    the final distinct — three, versus five when the index is
    re-banded inline from the raw corpus.
    """
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
    )
    from genetics_spark_coloc_spark.session import write_bucketed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(50)
    spark.sql("DROP TABLE IF EXISTS band_index_plan_test")
    write_bucketed(
        lsh_band_index(corpus),
        "band_index_plan_test",
        ["bandIdx", "bandHash"],
        num_buckets=4,
        sort_cols=["bandIdx", "bandHash"],
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        persisted = spark.table("band_index_plan_test")
        fast = incremental_lsh_candidates(delta, index_bands=persisted)
        slow = incremental_lsh_candidates(delta, index=corpus)
        plan = physical_plan(fast)
        # both index-side consumers (guard count + join input) read
        # the bucketed layout
        assert plan.count("Bucketed: true") == 2, plan
        # delta guard count + delta join input + final distinct; any
        # fourth exchange means the index side started shuffling
        assert shuffle_count(fast) == 3, plan
        assert shuffle_count(slow) == 5
        # same candidates as the inline-banded reference path
        as_set = lambda df: {  # noqa: E731
            (r["deltaId"], r["indexId"]) for r in df.collect()
        }
        got = as_set(fast)
        assert got == as_set(slow)
        assert got, "probe corpus produced no candidate pairs"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS band_index_plan_test")


def test_persisted_ivf_index_dynamic_partition_pruning(spark, tmp_path):
    """The persisted IVF index (ivf_members written partitionBy
    centroidId — the ivf_index step's layout) is the ANN twin of the
    bucketed band index: a search that passes the read-back table as
    members= must show DYNAMIC PARTITION PRUNING on the members scan,
    i.e. each query batch physically reads only its nprobe probed
    inverted lists, never the whole corpus. Results must equal the
    inline-members path exactly."""
    from genetics_spark_coloc_spark.operators.similarity import (
        ivf_members,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.limit(8)
    queries = emb.limit(4)
    idx = str(tmp_path / "ivf_index")
    ivf_members(emb, centroids).write.mode("overwrite").partitionBy(
        "centroidId"
    ).parquet(idx)
    persisted = spark.read.parquet(idx)

    fast = ivf_topk(emb, queries, centroids, k=3, nprobe=2, members=persisted)
    plan = physical_plan(fast)
    assert "dynamicpruningexpression(cast(centroidId" in plan or (
        "dynamicpruningexpression(centroidId" in plan
    ), plan[:4000]

    slow = ivf_topk(emb, queries, centroids, k=3, nprobe=2)
    key = lambda df: {  # noqa: E731
        (r["queryId"], r["rank"]): (r["neighborId"], r["cosineSim"])
        for r in df.collect()
    }
    got = key(fast)
    assert got == key(slow)
    assert got, "probe produced no neighbours"


def test_persisted_ivfpq_index_partition_pruning(spark, tmp_path):
    """The persisted IVF-PQ index (ivfpq_index step layout:
    partitionBy centroidId) must be partition-pruned by the search:
    ivfpq_topk knows the union of probed centroids at PLAN time (the
    query batch is collected to build the ADC tables anyway), so the
    scan carries a STATIC centroidId IN (...) partition filter — each
    search reads its probed list directories, never the corpus.
    Results must equal the unpersisted path exactly."""
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        ivfpq_index,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    codebooks = codebooks_from_first_k(emb, m=4, k=16, dim=64)
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    idx = str(tmp_path / "ivfpq_index")
    ivfpq_index(emb, centroids, codebooks).write.mode(
        "overwrite"
    ).partitionBy("centroidId").parquet(idx)
    persisted = spark.read.parquet(idx)

    fast = ivfpq_topk(persisted, centroids, codebooks, queries, k=3, nprobe=2)
    plan = physical_plan(fast)
    # the static probed-set filter must reach the scan as a PARTITION
    # filter (hive layout), not a post-scan row filter
    assert "PartitionFilters" in plan and "centroidId" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan[:4000]

    slow = ivfpq_topk(
        ivfpq_index(emb, centroids, codebooks),
        centroids,
        codebooks,
        queries,
        k=3,
        nprobe=2,
    )
    key = lambda df: {  # noqa: E731
        (r["queryId"], r["rank"]): (r["neighborId"], r["adcDist"])
        for r in df.collect()
    }
    got = key(fast)
    assert got == key(slow)
    assert got, "probe produced no neighbours"
