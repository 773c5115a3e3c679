"""Round-14 fixes (ADVICE r13): the partial-append fourth crash
state of ``fold_cc_labels`` (refold must not be blocked by the
converged-input guard), the crash-safe recall-certification ledger,
and the ``exact_l2_topk`` null-distance drop (k > valid neighbours —
asserted in test_pq.py alongside its siblings)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.graph import (
    assert_labels_converged,
    connected_components,
    fold_cc_labels,
    load_cc_labels,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "leftId long, rightId long")


def _full(spark, rows):
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    return {
        r["id"]: r["component"]
        for r in connected_components(v, _edges(spark, rows)).collect()
    }


def _build(spark, tmp_path, rows, name="cc"):
    out = str(tmp_path / name)
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    connected_components(v, _edges(spark, rows)).write.parquet(out)
    return out


BASE = [(1, 2), (2, 3), (10, 11)]


def test_partial_append_refold_repairs(spark, tmp_path):
    """ADVICE r13: the fourth crash state — a crash mid job-commit of
    the new-rows append leaves a PARTIAL append where a row's
    post-fold canonical (itself a new vertex) is missing its own row,
    i.e. an unconverged labeling. The refold's converged-input guard
    must exempt the current delta's vertex ids (instead of raising
    and directing the operator to a full rebuild) so the documented
    repair — refolding the same delta — goes through."""
    out = _build(spark, tmp_path, BASE)
    delta = [(100, 101)]  # a disjoint all-new pair: canonical 100
    # plant the partial append: the (101 -> 100) row landed, the
    # (100 -> 100) self-row did not
    spark.createDataFrame(
        [(101, 100)], "id long, component long"
    ).write.mode("append").parquet(out)
    # the planted state is genuinely unconverged — without the
    # exemption the guard refuses it
    with pytest.raises(ValueError, match="not a converged labeling"):
        assert_labels_converged(load_cc_labels(spark, out), context=out)
    # refolding the SAME delta repairs to the full recompute
    fold_cc_labels(_edges(spark, delta), out)
    got = {
        r["id"]: r["component"] for r in load_cc_labels(spark, out).collect()
    }
    assert got == _full(spark, BASE + delta)


def test_guard_exemption_does_not_mask_history_corruption(spark, tmp_path):
    """The exemption is scoped to the CURRENT delta's vertices:
    genuinely corrupt history (a component id outside the delta that
    never labels itself) still fails loudly on fold."""
    out = _build(spark, tmp_path, BASE)
    spark.createDataFrame(
        [(999, 888)], "id long, component long"  # 888 has no self-row
    ).write.mode("append").parquet(out)
    with pytest.raises(ValueError, match="not a converged labeling"):
        fold_cc_labels(_edges(spark, [(100, 101)]), out)


def test_assert_labels_converged_exempt_ids(spark):
    """Direct contract of the new ``exempt_ids`` parameter."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 4)], "id long, component long"  # 4 missing
    )
    with pytest.raises(ValueError, match="not a converged labeling"):
        assert_labels_converged(labels)
    assert_labels_converged(
        labels,
        exempt_ids=spark.createDataFrame([(4,)], "v long"),
    )
    # an exemption set that does NOT cover the bad id changes nothing
    with pytest.raises(ValueError, match="not a converged labeling"):
        assert_labels_converged(
            labels,
            exempt_ids=spark.createDataFrame([(7,)], "v long"),
        )


def test_crash_safe_overwrite_text_windows(spark, tmp_path):
    """Both crash windows of the text-sidecar protocol: a torn tmp
    with the target intact is ignored/overwritten; a complete tmp
    with the target deleted is finished by the recovery call."""
    from genetics_spark_coloc_spark.session import (
        crash_safe_overwrite_text,
        hadoop_read_text,
        recover_interrupted_text_overwrite,
    )

    path = str(tmp_path / "ledger.json")
    crash_safe_overwrite_text(spark, path, '["v1"]')
    assert hadoop_read_text(spark, path) == '["v1"]'
    assert not os.path.exists(path + "__txn")

    # window A: crash mid tmp write — torn tmp, target intact
    with open(path + "__txn", "w", encoding="utf-8") as fh:
        fh.write('["to')
    assert recover_interrupted_text_overwrite(spark, path) is False
    crash_safe_overwrite_text(spark, path, '["v2"]')
    assert hadoop_read_text(spark, path) == '["v2"]'

    # window B: crash between delete and rename — complete tmp only
    os.rename(path, path + "__txn")
    assert recover_interrupted_text_overwrite(spark, path) is True
    assert hadoop_read_text(spark, path) == '["v2"]'


def test_certify_ledger_survives_crash_windows(spark, tmp_path):
    """ADVICE r13: `_certify_ann_recall`'s read-modify-write of the
    `_recall_cert.json` ledger goes through the crash-safe text
    protocol — an interrupted overwrite (complete new ledger at the
    sibling tmp, target deleted) is recovered on the next certify
    instead of the history being lost or the step refusing forever."""
    from genetics_spark_coloc_spark.steps import _certify_ann_recall

    topk = spark.createDataFrame(
        [(1, 2), (1, 3)], "queryId long, neighborId long"
    )
    out = str(tmp_path / "idx")
    os.makedirs(out)
    p = {"certify_k": 2, "certify_nprobe": 1, "recall_floor": 0.0}

    _certify_ann_recall(spark, out, "_recall_cert.json", topk, topk, p)
    cert = os.path.join(out, "_recall_cert.json")
    assert len(json.load(open(cert))) == 1

    # plant the delete→rename crash window, then certify again: the
    # interrupted ledger is recovered first, so history accumulates
    os.rename(cert, cert + "__txn")
    _certify_ann_recall(spark, out, "_recall_cert.json", topk, topk, p)
    hist = json.load(open(cert))
    assert len(hist) == 2 and all(e["passed"] for e in hist)
    assert not os.path.exists(cert + "__txn")

    # a torn tmp next to an intact ledger is overwritten, not read
    with open(cert + "__txn", "w", encoding="utf-8") as fh:
        fh.write("{torn")
    _certify_ann_recall(spark, out, "_recall_cert.json", topk, topk, p)
    assert len(json.load(open(cert))) == 3


def _freq_counts(spark, path):
    from pyspark.sql import functions as F

    return {
        r["segHash"]: r["segCount"]
        for r in spark.read.parquet(path)
        .groupBy("segHash")
        .agg(F.sum("segCount").alias("segCount"))
        .collect()
    }


@pytest.mark.parametrize("seed", [11, 29])
def test_line_freq_random_crash_interleaving_repairs(spark, tmp_path, seed):
    """VERDICT r13 next #3 — property form of the shared crash-safe
    overwrite protocol on the line-frequency table (the cc_labels
    test's twin): a random sequence of nightly appends and
    compactions where each compaction randomly (a) completes,
    (b) crashes mid tmp-write (torn marker-less tmp, table intact),
    (c) crashes after the tmp commit but before the delete, or
    (d) crashes between delete and rename (committed tmp only) —
    must, after the protocol's own recovery on the next touch, keep
    the aggregated counts bit-exact with the sum of every appended
    batch. The counts table IS the corpus evidence; no interleaving
    may lose or duplicate a count."""
    import random
    import shutil

    from genetics_spark_coloc_spark.operators.text import (
        line_frequency_table,
    )
    from genetics_spark_coloc_spark.steps import run_step

    rng = random.Random(seed)
    vocab = ["alpha beta", "gamma delta", "epsilon", "zeta eta", "theta"]
    freq_p = str(tmp_path / "freq")
    tmp = freq_p + "__compacting"
    expected: dict = {}
    doc_id = 0

    def batch_docs(n):
        nonlocal doc_id
        rows = []
        for _ in range(n):
            lines = rng.sample(vocab, rng.randrange(1, 4))
            rows.append((doc_id, "\n".join(lines)))
            doc_id += 1
        return spark.createDataFrame(rows, "doc_id long, text string")

    for day in range(6):
        docs = batch_docs(rng.randrange(2, 6))
        for r in line_frequency_table(docs).collect():
            expected[r["segHash"]] = (
                expected.get(r["segHash"], 0) + r["segCount"]
            )
        docs_p = str(tmp_path / f"docs{day}.parquet")
        docs.write.parquet(docs_p)
        # the nightly append finishes any interrupted compaction first
        run_step(
            spark, "line_freq", {"corpus": docs_p}, freq_p,
            params={"mode": "append"},
        )
        assert _freq_counts(spark, freq_p) == expected, f"day {day} append"

        crash = rng.choice(
            ["none", "complete", "torn_tmp", "tmp_before_delete",
             "after_delete"]
        )
        if crash == "complete":
            run_step(
                spark, "line_freq", {"corpus": freq_p}, freq_p,
                params={"mode": "compact"},
            )
        elif crash == "torn_tmp":
            # crash mid tmp-write: marker-less junk directory
            os.makedirs(tmp, exist_ok=True)
            with open(os.path.join(tmp, "part-0.parquet"), "wb") as fh:
                fh.write(b"crashed mid write")
        elif crash in ("tmp_before_delete", "after_delete"):
            from pyspark.sql import functions as F

            compacted = (
                spark.read.parquet(freq_p)
                .groupBy("segHash")
                .agg(F.sum("segCount").alias("segCount"))
                .localCheckpoint(eager=True)
            )
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            compacted.write.parquet(tmp)
            if crash == "after_delete":
                shutil.rmtree(freq_p)
        # every observable state must already resolve to the exact
        # counts through the protocol's consumer-side recovery
        from genetics_spark_coloc_spark.session import (
            recover_interrupted_overwrite,
        )

        recover_interrupted_overwrite(spark, freq_p)
        assert _freq_counts(spark, freq_p) == expected, (
            f"day {day} after {crash} crash"
        )

    # closing compaction: one row per hash, counts unchanged
    run_step(
        spark, "line_freq", {"corpus": freq_p}, freq_p,
        params={"mode": "compact"},
    )
    rows = spark.read.parquet(freq_p).collect()
    assert len(rows) == len(expected)
    assert {r["segHash"]: r["segCount"] for r in rows} == expected
    assert not os.path.exists(tmp)


class TestStarPairs:
    """band_self_pairs(star=True): per-bucket spanning star — same
    connected components as the clique form, m-1 edges per bucket."""

    def _bands(self, spark):
        # two buckets sharing doc 5 (chained component) + a singleton
        rows = [
            (1, 0, "A"), (5, 0, "A"), (9, 0, "A"),
            (5, 1, "B"), (20, 1, "B"), (30, 1, "B"),
            (40, 0, "C"),
        ]
        return spark.createDataFrame(
            rows, "docId long, bandIdx int, bandHash string"
        )

    def test_star_edge_set(self, spark):
        from genetics_spark_coloc_spark.operators.dedup import band_self_pairs

        got = {
            (r["leftId"], r["rightId"])
            for r in band_self_pairs(self._bands(spark), star=True).collect()
        }
        # bucket min -> every other member; singleton bucket emits none
        assert got == {(1, 5), (1, 9), (5, 20), (5, 30)}

    def test_star_components_equal_clique(self, spark):
        from pyspark.sql import functions as F

        from genetics_spark_coloc_spark.operators.dedup import band_self_pairs
        from genetics_spark_coloc_spark.operators.graph import (
            connected_components,
        )

        bands = self._bands(spark)
        verts = bands.select(F.col("docId").alias("id")).distinct()
        out = {}
        for star in (False, True):
            pairs = band_self_pairs(bands, star=star)
            out[star] = {
                r["id"]: r["component"]
                for r in connected_components(
                    verts, pairs, dedup_edges=False
                ).collect()
            }
        assert out[True] == out[False]
        assert out[True] == {1: 1, 5: 1, 9: 1, 20: 1, 30: 1, 40: 40}
