"""r14 (VERDICT r13 next #4): the ``doctor`` index-fsck step — one
command that runs every recovery entry point + invariant check for an
at-rest index root and reports (check, status, detail)."""

from __future__ import annotations

import json
import os
import time

import pytest

from genetics_spark_coloc_spark.steps import run_step


def _report(spark, root, kind, **params):
    df = run_step(
        spark, "doctor", {"index": root},
        params={"kind": kind, **params}, write=False,
    )
    return {r["check"]: (r["status"], r["detail"]) for r in df.collect()}


def _edges(spark, rows):
    return spark.createDataFrame(rows, "leftId long, rightId long")


def _build_cc(spark, tmp_path, rows):
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
    )

    out = str(tmp_path / "cc")
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    connected_components(v, _edges(spark, rows)).write.parquet(out)
    return out


BASE = [(1, 2), (2, 3), (10, 11)]


def test_doctor_cc_labels_healthy(spark, tmp_path):
    from genetics_spark_coloc_spark.operators.graph import fold_cc_labels

    out = _build_cc(spark, tmp_path, BASE)
    fold_cc_labels(_edges(spark, [(3, 30)]), out)
    rep = _report(spark, out, "cc_labels")
    assert {k: v[0] for k, v in rep.items()} == {
        "interrupted_compaction": "ok",
        "alias_epochs": "ok",
        "alias_one_hop": "ok",
        "labels_converged": "ok",
        "writer_lease": "ok",
    }


def test_doctor_cc_labels_repairs_crash_states(spark, tmp_path):
    """Planted crashed-epoch garbage + a stale lease: doctor finishes
    the recoveries the loaders would perform on touch and clears the
    dead holder's lease."""
    out = _build_cc(spark, tmp_path, BASE)
    junk = os.path.join(out, "_aliases_e3")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0.parquet"), "wb") as fh:
        fh.write(b"crashed epoch write")
    with open(out + "__lease", "w", encoding="utf-8") as fh:
        json.dump(
            {
                "holder": "deadhost:pid1",
                "token": "x",
                "acquired_unix": time.time() - 99_999,
                "stale_after_s": 100,
            },
            fh,
        )
    rep = _report(spark, out, "cc_labels")
    assert rep["alias_epochs"][0] == "repaired"
    assert "_aliases_e3" in rep["alias_epochs"][1]
    assert rep["writer_lease"][0] == "repaired"
    assert "deadhost:pid1" in rep["writer_lease"][1]
    assert not os.path.exists(junk)
    assert not os.path.exists(out + "__lease")
    # second run: clean bill
    rep2 = _report(spark, out, "cc_labels")
    assert all(v[0] == "ok" for v in rep2.values()), rep2


def test_doctor_cc_labels_live_lease_is_reported_not_cleared(spark, tmp_path):
    out = _build_cc(spark, tmp_path, BASE)
    with open(out + "__lease", "w", encoding="utf-8") as fh:
        json.dump(
            {
                "holder": "livehost:pid7",
                "token": "y",
                "acquired_unix": time.time(),
                "stale_after_s": 7200,
            },
            fh,
        )
    rep = _report(spark, out, "cc_labels")
    assert rep["writer_lease"][0] == "warning"
    assert "livehost:pid7" in rep["writer_lease"][1]
    assert os.path.exists(out + "__lease")
    os.remove(out + "__lease")


def test_doctor_cc_labels_flags_broken_invariants(spark, tmp_path):
    """A two-hop alias chain and an unconverged labeling are FAILED
    rows, not exceptions — fsck reports everything it finds."""
    out = _build_cc(spark, tmp_path, BASE)
    chain = spark.createDataFrame(
        [(10, 5), (5, 1)], "oldComp long, newComp long"  # 10->5->1
    )
    epoch_dir = os.path.join(out, "_aliases_e1")
    chain.write.parquet(epoch_dir)
    rep = _report(spark, out, "cc_labels")
    assert rep["alias_one_hop"][0] == "failed"
    assert "one hop" in rep["alias_one_hop"][1]


def test_doctor_line_freq(spark, tmp_path):
    import shutil

    docs = spark.createDataFrame(
        [(1, "aa bb.\ncc dd.")], "doc_id long, text string"
    )
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    freq_p = str(tmp_path / "freq")
    run_step(
        spark, "line_freq", {"corpus": docs_p}, freq_p,
        params={"mode": "append"},
    )
    rep = _report(spark, freq_p, "line_freq")
    assert {k: v[0] for k, v in rep.items()} == {
        "interrupted_compaction": "ok",
        "counts_table": "ok",
        "writer_lease": "ok",
    }
    # plant the delete->rename crash window: doctor finishes it
    shutil.copytree(freq_p, freq_p + "__compacting")
    shutil.rmtree(freq_p)
    rep = _report(spark, freq_p, "line_freq")
    assert rep["interrupted_compaction"][0] == "repaired"
    assert rep["counts_table"][0] == "ok"


def test_doctor_ivf_and_recall_ledger(spark, tmp_path):
    vecs = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i, 0.0]) for i in range(6)]
        + [(100 + i, [0.0, 1.0 + 0.01 * i]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    corpus_p = str(tmp_path / "corpus.parquet")
    vecs.write.parquet(corpus_p)
    cents_p = str(tmp_path / "cents.parquet")
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(cents_p)
    out = str(tmp_path / "ivf")
    inputs = {"corpus": corpus_p, "centroids": cents_p}
    run_step(spark, "ivf_index", inputs, out)
    rep = _report(spark, out, "ivf")
    assert rep["meta_readable"][0] == "ok"
    assert rep["frozen_artifacts"][0] == "ok"
    assert rep["recall_ledger"][0] == "warning"  # not yet certified
    run_step(
        spark, "ivf_index", inputs, out,
        params={"mode": "certify", "certify_queries": 4, "certify_k": 2},
    )
    # plant an interrupted ledger overwrite: doctor finishes it
    cert = os.path.join(out, "_recall_cert.json")
    os.rename(cert, cert + "__txn")
    rep = _report(spark, out, "ivf")
    assert rep["recall_ledger"][0] == "repaired"
    assert "1 certification" in rep["recall_ledger"][1]
    assert os.path.exists(cert)


def test_doctor_lsh_band_index(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(12)],
        "doc_id long, text string",
    )
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    table = "doctor_lsh_idx"
    run_step(
        spark, "lsh_band_index", {"corpus": docs_p}, table,
        params={"num_perm": 16, "band_size": 4},
    )
    try:
        rep = _report(spark, table, "lsh_band_index")
        assert rep["band_identity"][0] == "ok"
        assert rep["ledger_matches_index"][0] == "ok"
        assert rep["writer_lease"][0] == "ok"
        # corrupt the ledger: doctor FAILS the invariant loudly
        spark.sql(
            f"INSERT INTO {table}_bucket_counts VALUES (0, 123456789, 99)"
        )
        rep = _report(spark, table, "lsh_band_index")
        assert rep["ledger_matches_index"][0] == "failed"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_bucket_counts")


def test_doctor_unknown_kind(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown kind"):
        run_step(
            spark, "doctor", {"index": str(tmp_path)},
            params={"kind": "nope"},
        )
