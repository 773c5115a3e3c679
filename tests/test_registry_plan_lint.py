"""Registry-wide physical-plan lint: EVERY query the driver contract
registers is compiled and its executed plan checked for the two
never-acceptable shapes — CartesianProduct (an unkeyed pair blow-up
that cannot survive a 100x scale-up) and BatchEvalPython (a
row-at-a-time Python UDF in a data path; vectorized Arrow forms —
ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas — are the
sanctioned exceptions and do not trip this).

The hand-written pins in test_plan_quality.py assert specific GOOD
shapes (broadcasts, zero-exchange bucketed scans, WindowGroupLimit)
on chosen queries; this module is the complementary blanket ban, so
a NEW query can never silently introduce a scale-killer the curated
pins don't know about.

BroadcastNestedLoopJoin is fine exactly when one side is a tiny
broadcast (per-corpus stats rows, non-equi self-pair conditions like
``vid != queryId``, 1-row thresholds); those sites are whitelisted BY
NAME below and the whitelist is itself pinned two-sided — an entry
whose plan stops using BNLJ must be removed, and a query outside the
list that starts using one fails loudly with instructions.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# a broadcast side that is O(stats) / O(queries) / O(1) rows by
# construction (corpus-level aggregates, tiny query sets, threshold
# rows), joined under a non-equi or trivially-true condition. Adding
# a name here requires the broadcast side to be provably tiny at ANY
# corpus size — if it grows with the data, restructure the join
# instead.
BNLJ_WHITELIST = {
    # ann_recall left this list in r14: its exact side now runs the
    # cosine_topk BLAS kernel (no pair join at all)
    "bigram_lm",
    "delta_lm_score",  # 1-row broadcast (N, V) model totals
    # l2_topk / cosine_topk: REMOVED r15 — both registry queries now
    # run the BLAS certify kernels (queries ride the task closure, no
    # pair join at all)
    "lm_stupid_backoff",  # 1-row broadcast (N, V) model totals
    "bm25_index_search",  # 1-row broadcast (_nDocs, _sumDl) corpus stats
    "bm25_retrieval",
    "bpe_apply_merge",
    # bpe_train_merges: REMOVED r14 — with materialize_rounds=True the
    # winner rides a checkpointed corpus and the 1-row cross join
    # plans as a plain broadcast join, no BNLJ left
    # (two-sided pin: re-add only with a tiny-broadcast argument)
    "corpus_drift_psi",
    "dsir_weights",
    "finemap_simulation",
    "grid_quantiles",
    "hamming_topk",
    "hybrid_retrieval",
    "impute_raiss",
    "kmv_containment",
    "kmv_overlap",
    # l2g_registry_matrix: REMOVED r14 — the fan-out localCheckpoints
    # in build_registry_feature_matrix cut the re-planned subtree that
    # had been degrading a stats-sized broadcast join to BNLJ
    "liftover_chain",
    # mrl_funnel / mrl_topk: REMOVED — their cosine shortlist runs the
    # cosine_topk BLAS kernel, so the self-pair BNLJ is gone
    "nb_language_model",
    "nb_language_predict",
    "temperature_mixture",
    "tfidf_top_terms",
    "token_budget",
}


@pytest.fixture(scope="module")
def plans(spark):
    import __spark_entry__ as entrymod

    # plan compilation is driver-JVM work that releases the GIL at
    # the py4j boundary, so building the 191 registry plans in a small
    # thread pool overlaps Catalyst analysis across queries (r15:
    # fixture setup 66 s -> ~17 s; results are per-query independent)
    from concurrent.futures import ThreadPoolExecutor

    def _one(item):
        name, fn = item
        df = fn(spark, SF_DIR)
        return name, df._jdf.queryExecution().executedPlan().toString()

    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(pool.map(_one, entrymod.queries().items()))


def test_no_cartesian_product_anywhere(plans):
    offenders = sorted(n for n, p in plans.items() if "CartesianProduct" in p)
    assert not offenders, (
        f"CartesianProduct in registry plans: {offenders} — an unkeyed "
        "pair join cannot survive scale-up; key the join (bucket, band, "
        "bin) or broadcast the provably-small side"
    )


def test_no_row_at_a_time_python_udf_anywhere(plans):
    offenders = sorted(n for n, p in plans.items() if "BatchEvalPython" in p)
    assert not offenders, (
        f"Row-at-a-time Python UDF (BatchEvalPython) in registry plans: "
        f"{offenders} — use built-in Column functions, or a vectorized "
        "pandas_udf / mapInPandas kernel if Python is genuinely needed"
    )


def test_bnlj_only_where_whitelisted(plans):
    have = {n for n, p in plans.items() if "BroadcastNestedLoopJoin" in p}
    new = sorted(have - BNLJ_WHITELIST)
    assert not new, (
        f"NEW BroadcastNestedLoopJoin in: {new} — legitimate only when "
        "the broadcast side is O(1)/O(stats) rows at ANY corpus size; "
        "if so, add the query to BNLJ_WHITELIST with that argument, "
        "otherwise restructure the join"
    )
    stale = sorted(BNLJ_WHITELIST - have)
    assert not stale, (
        f"BNLJ_WHITELIST entries whose plans no longer use a "
        f"BroadcastNestedLoopJoin: {stale} — remove them so the "
        "whitelist stays exact"
    )
