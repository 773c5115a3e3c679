"""Round-12 hardening: ADVICE fixes and house-style guards.

Covers the two round-11 ADVICE findings — the ``local_features``
pp==0 long-format parity edge and ``token_budget_allocation``'s
fully-scrubbed-corpus division — plus the new loud guard on
``line_dedup``'s per-document rebuild.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestLocalFeaturesPp0Parity:
    """ADVICE r11 #1: the split distance_features pipelines emit a
    NULL-valued mean row when every in-window tag has
    posteriorProbability exactly 0.0 (weighted sum 0 -> log10 NULL,
    and the split form never filtered on the value). The merged
    local_features must reproduce that long-format row set, not just
    the post-fillna matrix."""

    def _frames(self, spark):
        study_locus = spark.createDataFrame(
            [("L1", "V1", [("V1", 0.0)])],
            "studyLocusId string, variantId string, locus array<struct<"
            "variantId string, posteriorProbability double>>",
        )
        variant_index = spark.createDataFrame(
            [("V1", [("G1", 1000, 2000, 0.5)])],
            "variantId string, transcriptConsequences array<struct<"
            "targetId string, distanceFromTss long, "
            "distanceFromFootprint long, consequenceScore double>>",
        )
        return study_locus, variant_index

    def test_merged_matches_split_on_pp0(self, spark):
        from genetics_spark_coloc_spark.operators import l2g

        study_locus, variant_index = self._frames(spark)
        merged = l2g.local_features(
            study_locus, variant_index, genomic_window=500_000
        )
        rows = {
            r["featureName"]: r["featureValue"]
            for r in merged.filter(
                F.col("featureName").startswith("distance")
            ).collect()
        }
        # split pipeline ground truth on the same frames
        split_tss = l2g.distance_features(
            study_locus, variant_index, "distanceFromTss"
        ).collect()
        split_names = {r["featureName"] for r in split_tss}
        assert "distanceTssMean" in split_names
        assert all(
            r["featureValue"] is None
            for r in split_tss
            if r["featureName"] == "distanceTssMean"
        )
        # the merged form keeps the same NULL-valued mean rows
        assert "distanceTssMean" in rows and rows["distanceTssMean"] is None
        assert (
            "distanceFootprintMean" in rows
            and rows["distanceFootprintMean"] is None
        )
        # sentinel families are value-defined whenever a qualifying
        # row exists (w - d + 1 >= 1), so they stay non-NULL
        sent = {
            r["featureName"]: r["featureValue"]
            for r in merged.filter(
                F.col("featureName").startswith("distanceSentinel")
            ).collect()
        }
        assert sent["distanceSentinelTss"] is not None

    def test_out_of_window_still_drops(self, spark):
        """No in-window evidence -> no distance rows (unchanged)."""
        from genetics_spark_coloc_spark.operators import l2g

        study_locus = spark.createDataFrame(
            [("L1", "V1", [("V1", 0.0)])],
            "studyLocusId string, variantId string, locus array<struct<"
            "variantId string, posteriorProbability double>>",
        )
        variant_index = spark.createDataFrame(
            [("V1", [("G1", 9_000_000, 9_000_000, 0.5)])],
            "variantId string, transcriptConsequences array<struct<"
            "targetId string, distanceFromTss long, "
            "distanceFromFootprint long, consequenceScore double>>",
        )
        merged = l2g.local_features(
            study_locus, variant_index, genomic_window=500_000
        )
        names = {r["featureName"] for r in merged.collect()}
        assert not any(n.startswith("distance") for n in names)
        assert {"vepMaximum", "vepMean"} <= names


class TestTokenBudgetEmptyCorpus:
    """ADVICE r11 #2: when EVERY source has zero tokens the global
    decimal total is 0 and the weight share must go NULL, not raise
    ANSI DIVIDE_BY_ZERO."""

    def test_all_sources_empty(self, spark):
        from genetics_spark_coloc_spark.operators.text import (
            token_budget_allocation,
        )

        docs = spark.createDataFrame(
            [("web", ""), ("web", None), ("code", "")],
            "source string, text string",
        )
        out = token_budget_allocation(docs, total_budget=1_000_000).collect()
        assert len(out) == 2
        for r in out:
            assert r["availableTokens"] == 0
            assert r["targetWeight"] is None
            assert r["targetTokens"] is None
            assert r["samplingRate"] is None
            assert r["epochs"] is None

    def test_mixed_sources_unchanged(self, spark):
        """A non-degenerate corpus takes the same (guarded) branch and
        keeps its manifest: weights sum to 1, empty source gets 0."""
        from genetics_spark_coloc_spark.operators.text import (
            token_budget_allocation,
        )

        docs = spark.createDataFrame(
            [("web", "alpha beta gamma delta"), ("code", "")],
            "source string, text string",
        )
        rows = {
            r["source"]: r
            for r in token_budget_allocation(docs, total_budget=100).collect()
        }
        assert rows["web"]["targetWeight"] == pytest.approx(1.0)
        assert rows["web"]["targetTokens"] == 100
        assert rows["code"]["targetWeight"] == pytest.approx(0.0)
        assert rows["code"]["samplingRate"] is None


class TestLineDedupSegmentGuard:
    """VERDICT r11 task #5: line_dedup's per-doc rebuild buffers every
    surviving segment of one document in one aggregation buffer; a
    pathological multi-million-line document must fail LOUDLY at the
    documented bound, house-guard style, not grind one task."""

    def test_planted_violation_raises(self, spark):
        from pyspark.errors import PySparkException

        from genetics_spark_coloc_spark.operators.text import line_dedup

        monster = "\n".join(f"unique line number {i} of the monster" for i in range(10))
        docs = spark.createDataFrame(
            [("d1", monster), ("d2", "short doc\nwith two lines")],
            "doc_id string, text string",
        )
        with pytest.raises(PySparkException, match="documented bound 5"):
            line_dedup(docs, max_doc_segments=5).collect()

    def test_within_bound_unchanged(self, spark):
        from genetics_spark_coloc_spark.operators.text import line_dedup

        docs = spark.createDataFrame(
            [("d1", "\n".join(f"unique line number {i}" for i in range(10)))],
            "doc_id string, text string",
        )
        row = line_dedup(docs, max_doc_segments=10).collect()[0]
        assert row["nSegments"] == 10
        assert row["nDropped"] == 0


class TestBandedEditDistance:
    """VERDICT r11 task #3: banded levenshtein(l, r, k) fast path.

    Decision-exactness contract: at k = edit_distance_band(θ, max_len)
    the banded mode returns the SAME isDup as the exact kernel on
    every pair, reporting NULL distance/ratio for banded-away pairs."""

    def _docs_pairs(self, spark):
        docs = spark.createDataFrame(
            [
                ("a", "the quick brown fox jumps over the lazy dog"),
                ("b", "the quick brown fox jumped over the lazy dog"),
                ("c", "a completely different document about spark plans"),
                ("d", ""),
                ("e", ""),
            ],
            "doc_id string, text string",
        )
        pairs = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("d", "e"), ("b", "c")],
            "leftId string, rightId string",
        )
        return docs, pairs

    def test_decision_parity_and_null_contract(self, spark):
        from genetics_spark_coloc_spark.operators import dedup

        docs, pairs = self._docs_pairs(spark)
        k = dedup.edit_distance_band(0.8, 2000)
        assert k == 401
        exact = {
            (r["leftId"], r["rightId"]): r
            for r in dedup.edit_distance_verify(
                docs, pairs, "text", "doc_id", ratio_threshold=0.8
            ).collect()
        }
        banded = {
            (r["leftId"], r["rightId"]): r
            for r in dedup.edit_distance_verify(
                docs, pairs, "text", "doc_id", ratio_threshold=0.8, threshold=k
            ).collect()
        }
        assert exact.keys() == banded.keys()
        for key, er in exact.items():
            br = banded[key]
            assert br["isDup"] == er["isDup"], key
            if er["editDistance"] <= k:
                assert br["editDistance"] == er["editDistance"]
                assert br["editRatio"] == er["editRatio"]
            else:
                assert br["editDistance"] is None
                assert br["editRatio"] is None
                assert br["isDup"] is False
        # the dissimilar pairs genuinely exceeded the band at this
        # text length? No — 2000-char budget, short texts: verify the
        # NULL contract explicitly with a tight band instead
        tight = {
            (r["leftId"], r["rightId"]): r
            for r in dedup.edit_distance_verify(
                docs, pairs, "text", "doc_id", ratio_threshold=0.8, threshold=2
            ).collect()
        }
        far = tight[("a", "c")]
        assert far["editDistance"] is None
        assert far["editRatio"] is None
        assert far["isDup"] is False
        # empty-empty pair: distance 0 is inside any band, ratio 1
        assert tight[("d", "e")]["editRatio"] == 1.0
        assert tight[("d", "e")]["isDup"] is True


def test_streaming_cc_maintenance_replay_parity(spark, tmp_path):
    """The streaming cluster fold: replaying delta pairs through
    streaming_cc_maintenance in multiple triggers leaves the persisted
    cc_labels index equal to the full CC recompute over every edge —
    min-label merges are order-insensitive and each trigger re-
    establishes the converged-labeling invariant, so trigger slicing
    cannot change the fixpoint."""
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        load_cc_labels,
    )
    from genetics_spark_coloc_spark.steps import run_step
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_cc_maintenance,
    )

    hist_edges = [(1, 2), (2, 3), (10, 11), (20, 21)]
    # three slices: a chain merge across triggers (3-10 then 11-20),
    # plus brand-new vertices (30, 31) and a minimum-stealing 0
    delta_edges = [(3, 10), (11, 20), (30, 31), (0, 21), (30, 0)]
    hist_df = spark.createDataFrame(hist_edges, "leftId long, rightId long")
    hist_path = str(tmp_path / "hist.parquet")
    hist_df.write.parquet(hist_path)
    out = str(tmp_path / "cc_stream_labels")
    run_step(spark, "cc_labels", {"edges": hist_path}, out)

    delta_df = spark.createDataFrame(delta_edges, "leftId long, rightId long")
    src = str(tmp_path / "cc_stream_src")
    delta_df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(delta_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    epochs = []
    writer = streaming_cc_maintenance(
        stream, out, on_batch=lambda reader, epoch: epochs.append(epoch)
    )
    q = (
        writer.option("checkpointLocation", str(tmp_path / "cc_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert q.exception() is None
    assert len(epochs) >= 2, "expected multiple triggers"

    all_edges = hist_edges + delta_edges
    ids = sorted({v for e in all_edges for v in e})
    want = {
        r["id"]: r["component"]
        for r in connected_components(
            spark.createDataFrame([(i,) for i in ids], "id long"),
            spark.createDataFrame(all_edges, "leftId long, rightId long"),
        ).collect()
    }
    got = {
        r["id"]: r["component"] for r in load_cc_labels(spark, out).collect()
    }
    assert got == want
    # everything collapsed into 0's cluster
    assert set(want.values()) == {0}
