"""r14 (VERDICT r13 next #1): the single-writer contract on the
at-rest index family is ENFORCED, not prose — an exclusive-create
writer lease at ``{root}__lease`` taken by every index-mutating entry
(cc_labels fold/compact/rebuild, line_freq append/compact, LSH band
index, IVF/IVF-PQ build/append/certify), with a documented
stale-lease takeover so a crashed holder cannot wedge the index."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.session import (
    WriterLeaseHeld,
    acquire_writer_lease,
    release_writer_lease,
    writer_lease_path,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "leftId long, rightId long")


def _build_cc(spark, tmp_path, rows, name="cc"):
    from genetics_spark_coloc_spark.operators.graph import connected_components

    out = str(tmp_path / name)
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    connected_components(v, _edges(spark, rows)).write.parquet(out)
    return out


BASE = [(1, 2), (2, 3), (10, 11)]
DELTA = [(3, 30), (30, 11)]


def test_acquire_is_exclusive_and_names_holder(spark, tmp_path):
    root = str(tmp_path / "idx")
    token = acquire_writer_lease(spark, root, "unit-test")
    assert os.path.exists(writer_lease_path(root))
    with pytest.raises(WriterLeaseHeld, match="pid"):
        acquire_writer_lease(spark, root, "second-writer")
    release_writer_lease(spark, root, token)
    assert not os.path.exists(writer_lease_path(root))
    # released -> a new writer acquires cleanly
    token2 = acquire_writer_lease(spark, root, "third-writer")
    release_writer_lease(spark, root, token2)


def test_stale_lease_takeover(spark, tmp_path):
    """A holder that crashed without releasing leaves its lease; a
    later acquirer finding it older than its stale_after_s deletes it
    and retakes — the index never wedges on a dead pid."""
    root = str(tmp_path / "idx")
    lease = writer_lease_path(root)
    with open(lease, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "holder": "deadhost:pid999999",
                "token": "dead",
                "acquired_unix": time.time() - 10_000,
                "stale_after_s": 100,
            },
            fh,
        )
    token = acquire_writer_lease(spark, root, "takeover")
    assert json.load(open(lease))["token"] == token
    release_writer_lease(spark, root, token)


def test_torn_lease_file_blocks_then_ages_out(spark, tmp_path):
    """A holder that crashed mid lease-write leaves a torn (non-JSON)
    lease: unreadable metadata must NOT grant access (the writer may
    be alive), but the stale rule still applies via the default age
    so it eventually ages out."""
    root = str(tmp_path / "idx")
    with open(writer_lease_path(root), "w", encoding="utf-8") as fh:
        fh.write("{torn")
    # torn + age unknown (treated as epoch 0 -> older than any
    # threshold) -> taken over under the default stale rule
    token = acquire_writer_lease(spark, root, "after-torn")
    release_writer_lease(spark, root, token)


def test_release_verifies_token_after_takeover(spark, tmp_path):
    """A usurped holder's release must not delete the NEW holder's
    lease — the token is checked first."""
    root = str(tmp_path / "idx")
    t1 = acquire_writer_lease(spark, root, "victim", stale_after_s=0.0)
    time.sleep(0.01)
    t2 = acquire_writer_lease(spark, root, "usurper")  # takeover
    release_writer_lease(spark, root, t1)  # not ours anymore: no-op
    assert os.path.exists(writer_lease_path(root))
    release_writer_lease(spark, root, t2)
    assert not os.path.exists(writer_lease_path(root))


def test_two_concurrent_folds_one_proceeds_one_fails(spark, tmp_path):
    """The verdict's done-criterion: two concurrent folds of one
    cc_labels root — one proceeds, the other fails loudly naming the
    holder, and the index equals the sequential result."""
    import genetics_spark_coloc_spark.operators.graph as graph

    out = _build_cc(spark, tmp_path, BASE)
    entered = threading.Event()
    unblock = threading.Event()
    real = graph._fold_cc_labels_unlocked
    errors: list = []

    def slow_unlocked(*a, **k):
        entered.set()
        assert unblock.wait(60)
        return real(*a, **k)

    graph._fold_cc_labels_unlocked = slow_unlocked
    try:
        t = threading.Thread(
            target=lambda: errors.append(
                graph.fold_cc_labels(_edges(spark, DELTA), out)
            )
        )
        t.start()
        assert entered.wait(60)  # thread holds the lease, mid-fold
        with pytest.raises(WriterLeaseHeld, match="fold_cc_labels"):
            graph.fold_cc_labels(_edges(spark, DELTA), out)
    finally:
        graph._fold_cc_labels_unlocked = real
        unblock.set()
        t.join(120)
    # winner's fold completed; lease released; result == sequential
    assert not os.path.exists(writer_lease_path(out))
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        load_cc_labels,
    )

    rows = BASE + DELTA
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    want = {
        r["id"]: r["component"]
        for r in connected_components(v, _edges(spark, rows)).collect()
    }
    got = {
        r["id"]: r["component"] for r in load_cc_labels(spark, out).collect()
    }
    assert got == want


def test_failed_fold_releases_lease(spark, tmp_path):
    """A maintenance run that FAILS must not wedge the index: the
    lease is released on error (the crash states are repaired by the
    protocols, not by holding the lock)."""
    from genetics_spark_coloc_spark.operators.graph import fold_cc_labels

    out = _build_cc(spark, tmp_path, BASE)
    spark.createDataFrame(
        [(999, 888)], "id long, component long"  # corrupt history
    ).write.mode("append").parquet(out)
    with pytest.raises(ValueError, match="not a converged labeling"):
        fold_cc_labels(_edges(spark, [(100, 101)]), out)
    assert not os.path.exists(writer_lease_path(out))


def test_compact_and_rebuild_take_the_same_lease(spark, tmp_path):
    from genetics_spark_coloc_spark.operators.graph import compact_cc_labels
    from genetics_spark_coloc_spark.steps import run_step

    out = _build_cc(spark, tmp_path, BASE)
    token = acquire_writer_lease(spark, out, "other-writer")
    try:
        with pytest.raises(WriterLeaseHeld, match="other-writer"):
            compact_cc_labels(spark, out, force=True)
        edges_p = str(tmp_path / "edges.parquet")
        _edges(spark, BASE).write.parquet(edges_p)
        with pytest.raises(WriterLeaseHeld, match="other-writer"):
            run_step(
                spark, "cc_labels", {"edges": edges_p}, out,
                params={"mode": "overwrite"},
            )
    finally:
        release_writer_lease(spark, out, token)


def test_line_freq_maintenance_is_leased(spark, tmp_path):
    from genetics_spark_coloc_spark.steps import run_step

    docs = spark.createDataFrame(
        [(1, "aaaa bbbb.\ncccc dddd.")], "doc_id long, text string"
    )
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    freq_p = str(tmp_path / "freq")
    run_step(
        spark, "line_freq", {"corpus": docs_p}, freq_p,
        params={"mode": "append"},
    )
    token = acquire_writer_lease(spark, freq_p, "other-writer")
    try:
        with pytest.raises(WriterLeaseHeld, match="other-writer"):
            run_step(
                spark, "line_freq", {"corpus": docs_p}, freq_p,
                params={"mode": "append"},
            )
        with pytest.raises(WriterLeaseHeld, match="other-writer"):
            run_step(
                spark, "line_freq", {"corpus": freq_p}, freq_p,
                params={"mode": "compact"},
            )
    finally:
        release_writer_lease(spark, freq_p, token)
    # released -> the nightly append proceeds again
    run_step(
        spark, "line_freq", {"corpus": docs_p}, freq_p,
        params={"mode": "append"},
    )


def test_ivf_index_is_leased(spark, tmp_path):
    from genetics_spark_coloc_spark.steps import run_step

    vecs = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i, 0.0]) for i in range(8)]
        + [(100 + i, [0.0, 1.0 + 0.01 * i]) for i in range(8)],
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
    token = acquire_writer_lease(spark, out, "other-writer")
    try:
        for mode in ("append", "certify"):
            with pytest.raises(WriterLeaseHeld, match="other-writer"):
                run_step(
                    spark, "ivf_index", inputs, out, params={"mode": mode}
                )
    finally:
        release_writer_lease(spark, out, token)
    run_step(
        spark, "ivf_index", inputs, out,
        params={"mode": "certify", "certify_queries": 4, "certify_k": 2},
    )
    assert os.path.exists(os.path.join(out, "_recall_cert.json"))


def test_cli_fold_fails_loudly_across_processes(spark, tmp_path):
    """The production collision shape is two PROCESSES (a cron fold
    racing a manual backfill), not two threads: with the lease held by
    this process, a separate `python -m ... cc_labels mode=append`
    exits nonzero naming the holder; after release the same command
    succeeds."""
    import subprocess
    import sys

    out = _build_cc(spark, tmp_path, BASE)
    edges_p = str(tmp_path / "delta_edges.parquet")
    _edges(spark, DELTA).write.parquet(edges_p)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    argv = [
        sys.executable, "-m", "genetics_spark_coloc_spark", "run",
        "cc_labels", "--in", f"edges={edges_p}", "--out", out,
        "--param", "mode=append",
        "--master", "local[2]", "--shuffle-partitions", "2",
    ]
    token = acquire_writer_lease(spark, out, "cron-fold")
    try:
        r = subprocess.run(
            argv, capture_output=True, text=True, cwd=str(tmp_path),
            env=env, timeout=600,
        )
        assert r.returncode != 0
        assert "WriterLeaseHeld" in r.stderr
        assert "cron-fold" in r.stderr
    finally:
        release_writer_lease(spark, out, token)
    r = subprocess.run(
        argv, capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert not os.path.exists(writer_lease_path(out))
