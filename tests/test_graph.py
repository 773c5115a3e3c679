"""Graph operators: connected components (driver fast path, distributed
loop, incremental fold) and the ontology transitive closure.

The ``small_graph_edges`` fast path of ``connected_components`` (a
driver-side union-find for symmetric edge tables under an explicit
bound — the graph analogue of a broadcast join) must be EXACTLY the
distributed loop's fixed point on every graph shape and id type, and
the bound must actually gate it. The same holds for the closure's
driver-side path against its distributed loop.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.graph import (
    connected_components,
    incremental_connected_components,
)


def _components(df) -> dict:
    return {r["id"]: r["component"] for r in df.collect()}


def test_fast_path_equals_loop_on_random_graphs(spark):
    for seed in (1, 9, 33):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 80))
        ]
        verts = spark.range(n).select(F.col("id").cast("long").alias("id"))
        edf = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges] or [(0, 0)],
            "leftId long, rightId long",
        )
        stats: dict = {}
        fast = _components(connected_components(verts, edf, stats_out=stats))
        assert "small_graph_fast_path_edges" in stats, stats
        assert stats["converged"] and stats["propagations"] == 0
        slow = _components(connected_components(verts, edf, small_graph_edges=0))
        assert fast == slow, f"seed {seed}"


def test_fast_path_string_ids_and_isolated_vertices(spark):
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "id string"
    )
    edf = spark.createDataFrame(
        [("b", "c"), ("c", "a")], "leftId string, rightId string"
    )
    got = _components(connected_components(verts, edf))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e"}


def test_fast_path_bound_gates_to_the_loop(spark):
    """A symmetric table larger than the bound must take the
    distributed loop (stats carries no fast-path marker) and still
    produce the identical labeling."""
    verts = spark.range(10).select(F.col("id").cast("long").alias("id"))
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "leftId long, rightId long"
    )
    stats: dict = {}
    # 9 edges symmetrize to 18 rows > bound 4 -> loop
    out = _components(
        connected_components(verts, edf, small_graph_edges=4, stats_out=stats)
    )
    assert "small_graph_fast_path_edges" not in stats
    assert stats["propagations"] > 0
    assert out == {i: 0 for i in range(10)}


def test_fast_path_duplicate_and_self_edges(spark):
    verts = spark.range(4).select(F.col("id").cast("long").alias("id"))
    edf = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 2), (1, 2)],
        "leftId long, rightId long",
    )
    got = _components(connected_components(verts, edf, dedup_edges=False))
    assert got == {0: 0, 1: 1, 2: 1, 3: 3}


class TestCcKernel:
    """Kernel edge cases: edge-incident loop set + singleton union,
    exact convergence on string ids (a witness that casts ids to
    numbers would read NULL and falsely witness convergence), and
    ``dedup_edges=False`` parity on pre-deduped oriented pairs."""

    def test_string_ids_long_chain_converges_exactly(self, spark):
        # 12-node chain: needs several propagate+shortcut rounds, so a
        # falsely-instant witness would return a split labeling
        names = [f"n{i:02d}" for i in range(12)]
        v = spark.createDataFrame([(n,) for n in names] + [("zzz_iso",)], "id string")
        e = spark.createDataFrame(
            list(zip(names, names[1:])), "leftId string, rightId string"
        )
        got = _components(connected_components(v, e))
        assert got == {**{n: "n00" for n in names}, "zzz_iso": "zzz_iso"}

    def test_isolated_vertices_and_dedup_edges_parity(self, spark):
        v = spark.createDataFrame([(i,) for i in range(8)], "id long")
        # duplicate + both-orientation edges; dedup_edges=False must
        # still produce the identical labeling
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (3, 4)], "leftId long, rightId long"
        )
        for dd in (True, False):
            got = _components(connected_components(v, e, dedup_edges=dd))
            assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


class TestIncrementalConnectedComponents:
    """Incremental duplicate-cluster maintenance: folding a delta's
    edges into a converged labeling must equal the full recompute over
    the union graph — the cluster-resolution member of the O(delta)
    daily loop."""

    def _labels(self, spark, rows):
        return spark.createDataFrame(rows, "id long, component long")

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "leftId long, rightId long")

    def _full(self, spark, vertices, edges):
        v = spark.createDataFrame([(i,) for i in vertices], "id long")
        return _components(connected_components(v, self._edges(spark, edges)))

    def test_delta_merges_two_old_components(self, spark):
        # history: {1,2,3} -> 1 and {10,11} -> 10; delta edge 3-11
        # merges them; new vertex 20 chains onto 10 via 20-10
        labels = self._labels(
            spark, [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
        )
        delta = self._edges(spark, [(3, 11), (20, 10)])
        remap_out = {}
        got = _components(
            incremental_connected_components(
                labels, delta, remap_out=remap_out
            )
        )
        want = self._full(
            spark,
            [1, 2, 3, 10, 11, 20],
            [(1, 2), (2, 3), (10, 11), (3, 11), (20, 10)],
        )
        assert got == want
        assert got[11] == 1 and got[20] == 1
        # the remap names only the moved canonical ids
        remap = {
            r["_oldComp"]: r["_newComp"] for r in remap_out["remap"].collect()
        }
        assert remap == {10: 1, 20: 1}

    def test_edgeless_newcomer_is_singleton(self, spark):
        labels = self._labels(spark, [(1, 1), (2, 1)])
        delta = self._edges(spark, [])
        roster = spark.createDataFrame([(7,), (2,)], "id long")
        got = _components(
            incremental_connected_components(
                labels, delta, delta_vertices=roster
            )
        )
        # 7 lands as its own singleton; 2 (already known) is NOT
        # duplicated — its row comes from history
        assert got == {1: 1, 2: 1, 7: 7}

    def test_new_vertices_bridge_and_win_minimum(self, spark):
        # new vertex 0 is SMALLER than every history id: it must
        # become the component label of everything it touches
        labels = self._labels(spark, [(5, 5), (6, 5), (9, 9)])
        delta = self._edges(spark, [(0, 6), (0, 9)])
        got = _components(incremental_connected_components(labels, delta))
        assert got == {5: 0, 6: 0, 9: 0, 0: 0}

    def test_matches_full_recompute_on_random_graph(self, spark):
        rng = random.Random(12)
        n_hist, n_new = 60, 25
        hist_edges = [
            (rng.randrange(n_hist), rng.randrange(n_hist)) for _ in range(40)
        ]
        hist_edges = [(a, b) for a, b in hist_edges if a != b]
        delta_edges = [
            (rng.randrange(n_hist + n_new), rng.randrange(n_hist + n_new))
            for _ in range(30)
        ]
        delta_edges = [(a, b) for a, b in delta_edges if a != b]
        hv = spark.createDataFrame([(i,) for i in range(n_hist)], "id long")
        labels = connected_components(hv, self._edges(spark, hist_edges))
        roster = spark.createDataFrame(
            [(i,) for i in range(n_hist, n_hist + n_new)], "id long"
        )
        got = _components(
            incremental_connected_components(
                labels,
                self._edges(spark, delta_edges),
                delta_vertices=roster,
            )
        )
        want = self._full(
            spark, range(n_hist + n_new), hist_edges + delta_edges
        )
        assert got == want


def test_closure_fast_path_equals_loop_on_random_dags(spark):
    """transitive_closure's bounded-local fast path must return the
    exact distributed closure on random DAGs (edges always point to a
    smaller id, so acyclic), including group_cols grouping."""
    from genetics_spark_coloc_spark.operators.ontology import (
        transitive_closure,
    )

    for seed in (2, 11):
        rng = random.Random(seed)
        n = 30
        edges = [
            (b, rng.randrange(b))  # child -> strictly smaller parent
            for b in range(1, n)
            for _ in range(rng.randrange(0, 3))
        ]
        edf = spark.createDataFrame(
            [(str(a), str(b)) for a, b in edges] or [("1", "0")],
            "subject string, object string",
        )
        fast = sorted(
            map(tuple, transitive_closure(edf).collect())
        )
        slow = sorted(
            map(tuple, transitive_closure(edf, small_graph_edges=0).collect())
        )
        assert fast == slow, f"seed {seed}"
    # group_cols: two disjoint tagged forests close independently
    tagged = spark.createDataFrame(
        [("g1", "b", "a"), ("g1", "c", "b"), ("g2", "c", "b")],
        "_g string, subject string, object string",
    )
    fast = sorted(map(tuple, transitive_closure(
        tagged, group_cols=("_g",)).collect()))
    slow = sorted(map(tuple, transitive_closure(
        tagged, group_cols=("_g",), small_graph_edges=0).collect()))
    assert fast == slow
    assert ("g1", "c", "a") in fast and ("g2", "c", "a") not in fast


def test_closure_fast_path_cycle_falls_back_and_max_pairs_raises(
    spark, monkeypatch
):
    from genetics_spark_coloc_spark.operators import ontology
    from genetics_spark_coloc_spark.operators.ontology import (
        transitive_closure,
    )

    # a 2-cycle: the local DFS declines; the distributed
    # distinct-fixpoint loop converges to the 4-pair closure
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "subject string, object string"
    )
    got = sorted(map(tuple, transitive_closure(cyc).collect()))
    assert got == [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]
    # max_pairs is enforced INSIDE the local path too (same message)
    chain = spark.range(39).select(
        F.col("id").cast("string").alias("subject"),
        (F.col("id") + 1).cast("string").alias("object"),
    )
    with pytest.raises(RuntimeError, match="max_pairs"):
        transitive_closure(chain, max_pairs=100)
    # over DRIVER_PAIR_BOUND but under max_pairs: silently falls back
    # to the distributed loop with the full closure intact
    monkeypatch.setattr(ontology, "DRIVER_PAIR_BOUND", 10)
    assert transitive_closure(chain).count() == 40 * 39 // 2
