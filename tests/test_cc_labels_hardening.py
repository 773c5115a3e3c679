"""Round-13 hardening of the cc_labels at-rest index (VERDICT r12
findings #1/#2 + next-round tasks #1-#3): loud sidecar reads, the
crash-consistent fold/compact protocols, the converged-input guard,
and sidecar auto-compaction. Every test plants the exact failure the
round-12 verdict described and asserts the loud/healed behaviour."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.graph import (
    _alias_state,
    assert_labels_converged,
    compact_cc_labels,
    connected_components,
    fold_cc_labels,
    incremental_connected_components,
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


def _resolved(spark, out):
    return {
        r["id"]: r["component"] for r in load_cc_labels(spark, out).collect()
    }


def _build(spark, tmp_path, rows, name="cc"):
    out = str(tmp_path / name)
    ids = sorted({v for e in rows for v in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    connected_components(v, _edges(spark, rows)).write.parquet(out)
    return out


BASE = [(1, 2), (2, 3), (10, 11)]
DELTA = [(3, 30), (30, 11)]  # merges both clusters through newcomer 30


def test_missing_sidecar_is_fast_path_not_exception(spark, tmp_path):
    """Genuine sidecar absence (fresh build) resolves via the Hadoop
    existence check — no exception machinery involved, labels come
    back verbatim."""
    out = _build(spark, tmp_path, BASE)
    assert _resolved(spark, out) == _full(spark, BASE)


@pytest.mark.parametrize("layout", ["legacy", "epoch"])
def test_unreadable_sidecar_raises_loudly(spark, tmp_path, layout):
    """r12 finding #1: a PRESENT but unreadable sidecar must RAISE —
    the old blanket ``except Exception`` treated a corrupt/failed
    read as 'no sidecar yet' and silently served STALE component ids
    as current (then fed them to the next fold as converged input)."""
    out = _build(spark, tmp_path, BASE)
    side = os.path.join(
        out, "_aliases" if layout == "legacy" else "_aliases_e1"
    )
    os.makedirs(side)
    with open(os.path.join(side, "part-00000.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")
    if layout == "epoch":
        # committed per the protocol, so the loader MUST read it
        open(os.path.join(side, "_SUCCESS"), "w").close()
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            load_cc_labels(spark, out)
    else:
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            load_cc_labels(spark, out)
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        fold_cc_labels(_edges(spark, DELTA), out)


def test_uncommitted_epoch_dir_is_ignored_and_retried(spark, tmp_path):
    """A crashed epoch write leaves a marker-less ``_aliases_e1``
    directory: the loader must IGNORE it (the commit point is the
    _SUCCESS marker) and the next fold must reuse/overwrite the epoch
    number — the 'crash mid-alias-write' leg of the fold contract."""
    out = _build(spark, tmp_path, BASE)
    junk = os.path.join(out, "_aliases_e1")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage from a crashed job")
    # loader: pre-fold state, junk invisible
    assert _resolved(spark, out) == _full(spark, BASE)
    # refold: overwrites the junk epoch and completes
    fold_cc_labels(_edges(spark, DELTA), out)
    assert _resolved(spark, out) == _full(spark, BASE + DELTA)
    alias_df, epoch = _alias_state(spark, out)
    assert epoch == 1 and alias_df is not None


def test_fold_crash_after_shard_append_refold_repairs(spark, tmp_path):
    """r12 finding #2 (the two-write gap): plant the exact
    intermediate state — new-vertex shard APPENDED, alias epoch NOT
    committed — and assert (a) the intermediate is itself a converged
    labeling (clusters split, never torn), (b) refolding the SAME
    delta yields exactly the full recompute's labeling."""
    out = _build(spark, tmp_path, BASE)
    resolved = load_cc_labels(spark, out)
    parts: dict = {}
    incremental_connected_components(
        resolved, _edges(spark, DELTA), remap_out=parts
    )
    # first write only — the crash point is before the epoch commit
    parts["new_rows"].write.mode("append").parquet(out)
    intermediate = _resolved(spark, out)
    assert_labels_converged(load_cc_labels(spark, out), context="planted")
    # split: newcomer 30 carries the post-fold canonical, history
    # clusters still resolve separately
    assert intermediate[30] == 1 and intermediate[10] == 10
    # the documented repair: refold the same batch
    fold_cc_labels(_edges(spark, DELTA), out)
    assert _resolved(spark, out) == _full(spark, BASE + DELTA)
    # no duplicate vertex rows from the double append (left_anti)
    counts = (
        spark.read.parquet(out).groupBy("id").count().filter("count > 1")
    )
    assert counts.count() == 0


def test_compact_crash_windows_self_heal(spark, tmp_path):
    """compact_cc_labels crash contract: (a) stale tmp with the root
    intact is discarded and compaction redone; (b) committed tmp with
    the root DELETED (the delete→rename window) is finished by any
    entry point — the index is never observable in a torn state."""
    out = _build(spark, tmp_path, BASE)
    fold_cc_labels(_edges(spark, DELTA), out)
    want = _full(spark, BASE + DELTA)
    tmp = out + "__compacting"

    # (a) crash AFTER the tmp write, BEFORE the root delete
    load_cc_labels(spark, out).write.parquet(tmp)
    compact_cc_labels(spark, out)
    assert _resolved(spark, out) == want
    assert not os.path.exists(tmp)
    assert not [n for n in os.listdir(out) if n.startswith("_aliases")]

    # (b) crash BETWEEN delete and rename: root gone, tmp committed
    out2 = _build(spark, tmp_path, BASE, name="cc2")
    fold_cc_labels(_edges(spark, DELTA), out2)
    tmp2 = out2 + "__compacting"
    load_cc_labels(spark, out2).write.parquet(tmp2)
    import shutil

    shutil.rmtree(out2)
    # ANY entry point self-heals — here the loader
    assert _resolved(spark, out2) == want
    assert os.path.exists(out2) and not os.path.exists(tmp2)


def test_converged_input_guard_raises(spark, tmp_path):
    """Hand-built / corrupted labels (a component id that does not
    label itself) must fail LOUDLY at fold time instead of silently
    contracting the delta against an unresolved labeling."""
    out = str(tmp_path / "bad")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 3)], "id long, component long"
    ).write.parquet(out)
    with pytest.raises(ValueError, match="not a converged labeling"):
        fold_cc_labels(_edges(spark, [(1, 99)]), out)
    # and the guard is skippable for callers that certify out-of-band
    fold_cc_labels(_edges(spark, [(4, 5)]), out, verify_converged=0)


def test_alias_auto_compaction_bounds_sidecar(spark, tmp_path):
    """The sidecar self-compaction rule: a fold whose composed alias
    epoch exceeds ``alias_compact_rows`` finishes with an inline
    crash-safe compact — labels fully resolved at rest, no alias
    dirs left, labeling equal to the full recompute."""
    out = _build(spark, tmp_path, BASE)
    fold_cc_labels(_edges(spark, DELTA), out, alias_compact_rows=0)
    assert _resolved(spark, out) == _full(spark, BASE + DELTA)
    assert not [n for n in os.listdir(out) if n.startswith("_aliases")]
    # at-rest shards are themselves resolved now (one row per id,
    # every component labels itself)
    raw = spark.read.parquet(out)
    assert raw.count() == raw.select("id").distinct().count()
    assert_labels_converged(raw, context="post-compact")


def test_legacy_sidecar_migrates_on_first_fold(spark, tmp_path):
    """Pre-protocol indexes (un-versioned ``_aliases``) keep loading
    as epoch 0, and the first fold migrates them: composes into a
    committed ``_aliases_e1`` and removes the legacy directory."""
    out = _build(spark, tmp_path, BASE)
    # fabricate a legacy-layout index: re-point 10's cluster to 1
    spark.createDataFrame(
        [(10, 1)], "oldComp long, newComp long"
    ).write.parquet(os.path.join(out, "_aliases"))
    assert _resolved(spark, out)[11] == 1
    fold_cc_labels(_edges(spark, [(0, 3)]), out)
    got = _resolved(spark, out)
    assert got[11] == 0 and got[1] == 0
    assert not os.path.exists(os.path.join(out, "_aliases"))
    _, epoch = _alias_state(spark, out)
    assert epoch == 1


@pytest.mark.parametrize("seed", [7, 23])
def test_random_crash_interleaving_always_repairs(spark, tmp_path, seed):
    """Property form of the crash contract: a random sequence of edge
    batches where each fold randomly (a) completes, (b) crashes after
    the shard append (the two-write gap), or (c) crashes mid-epoch
    write (marker-less garbage dir) — ALWAYS refolding the same batch
    after a crash — must end every step equal to the full recompute
    over all edges so far. The hand-planted tests pin each state once;
    this pins the contract under composition."""
    import random

    rng = random.Random(seed)
    out = _build(spark, tmp_path, BASE, name=f"ccr{seed}")
    seen = list(BASE)
    hi = 40
    for _day in range(5):
        lo, hi = hi, hi + 12
        batch = [
            (rng.randrange(hi), rng.randrange(lo, hi)) for _ in range(8)
        ]
        batch = [(a, b) for a, b in batch if a != b]
        if not batch:
            continue
        seen += batch
        crash = rng.choice(["none", "after_shard", "mid_epoch"])
        if crash == "after_shard":
            parts: dict = {}
            incremental_connected_components(
                load_cc_labels(spark, out),
                _edges(spark, batch),
                remap_out=parts,
            )
            parts["new_rows"].write.mode("append").parquet(out)
            # intermediate must itself be converged (never torn)
            assert_labels_converged(
                load_cc_labels(spark, out), context="interleaved"
            )
        elif crash == "mid_epoch":
            _, epoch = _alias_state(spark, out)
            junk = os.path.join(out, f"_aliases_e{epoch + 1}")
            os.makedirs(junk, exist_ok=True)
            with open(os.path.join(junk, "part-0.parquet"), "wb") as fh:
                fh.write(b"crashed epoch write")
        # the documented repair: (re)fold the same batch
        fold_cc_labels(_edges(spark, batch), out)
        assert _resolved(spark, out) == _full(spark, seen), (
            f"diverged after {crash} crash"
        )
    # no duplicate vertex rows accumulated across any interleaving
    dups = spark.read.parquet(out).groupBy("id").count().filter("count > 1")
    assert dups.count() == 0


def test_multi_fold_keeps_single_epoch_dir(spark, tmp_path):
    """Superseded epochs are cleaned as folds land — the root never
    accumulates alias directories (a crash mid-cleanup only defers
    the deletion to the next fold)."""
    out = _build(spark, tmp_path, BASE)
    fold_cc_labels(_edges(spark, DELTA), out)
    fold_cc_labels(_edges(spark, [(0, 30), (0, 40)]), out)
    dirs = [n for n in os.listdir(out) if n.startswith("_aliases")]
    assert dirs == ["_aliases_e2"]
    assert _resolved(spark, out) == _full(
        spark, BASE + DELTA + [(0, 30), (0, 40)]
    )
