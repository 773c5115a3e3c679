"""Connected-components edge-scale probe (VERDICT r5 task #7):
duplicate-cluster resolution is the suite's slowest query and its
cost model ("compile-bound, O(log n) rounds") was asserted from sf0.1
only. This probe runs operators/graph.connected_components at 10M and
40M synthetic edges and prints one JSON line per configuration:
{probe, edges, vertices, rounds, converged, sec, edges_per_sec}.

Graph shapes (generated as pure Column expressions, no driver data):

- chained cliques — the realistic near-dup geometry: blocks of
  ``clique`` vertices star-wired to their block head, heads chained
  to the previous head in runs of ``chain`` blocks, so each component
  is `chain × clique` vertices with diameter ≈ 2·chain. Pointer
  doubling should close these in ~log2(diameter) rounds regardless
  of edge count — that's the "bounded rounds" claim under test.
- pathological path — one simple path of ``path_n`` vertices
  (diameter = path_n): the worst case for label propagation; with
  one pointer jump per round the round count grows, bounding what a
  user should expect if they feed CC a giant chain instead of
  near-dup clusters.

Usage: python tools/cc_scale_probe.py [edges_millions ...]
           [--checkpoint-dir PATH]
       (default: 10 40)

``--checkpoint-dir`` forwards to connected_components(checkpoint_dir=)
so each round's label table lands on DISK instead of the single
local-mode driver-side block manager — the r10 escape hatch that lets
the 100M-edge run complete at the default 8g heap (without it, r9
measured an OOM during the round-5 sort and needed
SPARK_GRAFT_DRIVER_MEM=48g).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.graph import connected_components
from genetics_spark_coloc_spark.session import get_session


def chained_clique_edges(spark, n_edges: int, clique: int = 10, chain: int = 64):
    """~n_edges edges: per-block stars + head-to-head chains in runs
    of ``chain`` blocks. Components have clique*chain vertices."""
    # star edges: v -> block head, for v not a head itself
    n_vertices = n_edges  # one star edge per non-head vertex ≈ edges
    ids = spark.range(n_vertices).select(F.col("id"))
    head = (F.col("id") - F.col("id") % clique).alias("dst")
    stars = ids.filter(F.col("id") % clique != 0).select(
        F.col("id").alias("leftId"), head.alias("rightId")
    )
    # chain edges between consecutive block heads within a run
    heads = spark.range(0, n_vertices, clique).select(F.col("id"))
    block = F.col("id") / clique
    chains = heads.filter(
        (block.cast("long") % chain != 0) & (F.col("id") >= clique)
    ).select(
        F.col("id").alias("leftId"),
        (F.col("id") - clique).alias("rightId"),
    )
    edges = stars.unionByName(chains)
    verts = ids.select(F.col("id"))
    return verts, edges


def path_edges(spark, path_n: int):
    verts = spark.range(path_n).select(F.col("id"))
    edges = (
        spark.range(1, path_n)
        .select(F.col("id").alias("leftId"), (F.col("id") - 1).alias("rightId"))
    )
    return verts, edges


def probe(
    name: str, verts, edges, num_rounds: int, checkpoint_dir: str | None = None
) -> None:
    stats: dict = {}
    n_edges = edges.count()
    n_verts = verts.count()
    t0 = time.perf_counter()
    out = connected_components(
        verts,
        edges,
        num_rounds=num_rounds,
        stats_out=stats,
        checkpoint_dir=checkpoint_dir,
    )
    n_components = out.select("component").distinct().count()
    sec = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {
                "probe": name,
                "edges": n_edges,
                "vertices": n_verts,
                "components": n_components,
                "rounds": stats.get("rounds"),
                "converged": stats.get("converged"),
                "sec": sec,
                "edges_per_sec": int(n_edges / sec) if sec else None,
                "checkpoint": "disk" if checkpoint_dir else "local",
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            }
        ),
        flush=True,
    )


def main() -> None:
    argv = list(sys.argv[1:])
    checkpoint_dir = None
    if "--checkpoint-dir" in argv:
        i = argv.index("--checkpoint-dir")
        checkpoint_dir = argv[i + 1]
        del argv[i : i + 2]
    sizes = [int(float(a) * 1e6) for a in argv] or [10_000_000, 40_000_000]
    spark = get_session(
        app_name="cc_scale_probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        verts, edges = chained_clique_edges(spark, n)
        probe(
            f"cc_chained_cliques_{n // 1_000_000}m",
            verts,
            edges,
            num_rounds=24,
            checkpoint_dir=checkpoint_dir,
        )
    if checkpoint_dir is None:
        # one pathological 100k-vertex path: diameter 100k, the
        # adversarial shape for label propagation (rounds, not
        # volume, dominate); skipped on checkpoint-dir runs, which
        # target the volume/heap question only
        verts, edges = path_edges(spark, 100_000)
        probe("cc_path_100k", verts, edges, num_rounds=64)
    spark.stop()


if __name__ == "__main__":
    main()
