"""Distributed connected components — duplicate-cluster resolution.

The step every dedup pipeline needs after candidate-pair generation
(MinHash-LSH, SimHash, embedding near-dup): group pairwise matches
into clusters and pick one keeper per cluster. The reference engine
has no graph operator (its duplicate flagging is row-local); this is
part of the training-data-pipeline extension, built the same way as
the ontology closure (operators/ontology.py): iterative min-label
propagation with pointer-doubling shortcuts, localCheckpoint lineage
truncation per round.

At 100 TB: each round is two hash joins + one min-aggregation on the
(id, label) table — all key-partitioned, no broadcast of anything
large. Propagation alone needs O(diameter) rounds; the shortcut step
(label := label of label) compounds it roughly geometrically, so
near-dup clusters (tiny diameters) converge in a handful of rounds
and even pathological chains need O(log n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _union_find_labels(spark, sym: DataFrame, id_field) -> DataFrame:
    """Exact driver-side labeling of a SMALL symmetric edge table
    (the ``small_graph_edges`` fast path of
    :func:`connected_components`): union-find with min-id roots
    computes precisely the fixed point the distributed loop converges
    to — every vertex labeled with the minimum id reachable from it.
    Keeping the smaller root as the representative on every union
    makes the root of each tree its component's minimum directly;
    path compression keeps the walk near-linear. Arrow-backed
    toPandas/createDataFrame keep both transfers columnar. Duplicate
    edges and self-loops are no-ops."""
    import pandas as pd

    pdf = sym.toPandas()
    parent: dict = {}

    def find(x):
        path = []
        while True:
            p = parent.get(x, x)
            if p == x:
                break
            path.append(x)
            x = p
        for y in path:
            parent[y] = x
        return x

    src = pdf["src"].tolist()
    dst = pdf["dst"].tolist()
    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    ids = sorted(set(src) | set(dst))
    t = id_field.dataType.simpleString()
    if not ids:
        return spark.createDataFrame([], schema=f"id {t}, label {t}")
    out = pd.DataFrame({"id": ids, "label": [find(x) for x in ids]})
    return spark.createDataFrame(out, schema=f"id {t}, label {t}")


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "leftId",
    dst_col: str = "rightId",
    num_rounds: int = 8,
    stats_out: "dict | None" = None,
    checkpoint_dir: "str | None" = None,
    dedup_edges: bool = True,
    small_graph_edges: "int | None" = 1_000_000,
) -> DataFrame:
    """Label every vertex with the MINIMUM vertex id reachable from it.

    vertices: one row per vertex (``id_col``); edges: undirected
    pairs (``src_col``, ``dst_col``) whose endpoints appear in
    ``vertices``; an edge with a null endpoint is dropped. Returns
    (id, component).

    ``small_graph_edges``: the graph analogue of a broadcast join.
    When the SYMMETRIC edge table holds at most this many rows (one
    count() on the table the loop had to materialize anyway), the
    labeling is computed exactly with a driver-side union-find over
    the collected edges instead of the distributed loop — identical
    output (union-find with min-id roots IS the fixed point the loop
    converges to), bounded driver memory (1M edge rows ≈ tens of MB,
    the order a broadcast relation is allowed). At corpus scale the
    full-graph solve never fits the bound and takes the loop; the
    bound exists for the O(delta) graphs
    ``incremental_connected_components`` contracts a day's fold to,
    and for the reduced/history graphs of registry-scale runs.
    ``None`` or 0 disables (tests that pin loop behavior pass 0).

    The distributed loop:

    - **Only edge-incident vertices ride the loop.** An isolated
      vertex is its own singleton component; shuffling its label
      through every round moves bytes that cannot change. The
      isolated remainder unions in once at the end as (id, id), so
      the per-round shuffle is O(|touched|), not O(|V|).
    - **Self-loop propagate.** The symmetric edge table carries a
      self-loop per incident vertex, so each propagation is ONE join
      + ONE aggregation referencing the labels table once and the
      lazily-built segment plan grows linearly. (A union-with-self
      plus a per-propagation shortcut grew it 4× per propagation and
      made segments deeper than 2 unplannable.)
    - **One schedule.** The first segment runs 2 propagations, later
      segments 4, with the pointer-doubling shortcut every 2nd
      propagation, and the convergence check runs after EVERY
      segment: small graphs stop after one cheap segment while deep
      chains amortize the per-action latency over more work
      (measured on the sf0.1 LSH graphs: 7 → 4 actions / 5.2 → 3.0 s
      on the clique-heavy history graph, 5 → 3 / 3.1 → 2.4 s on the
      corpus graph, labelings bit-equal). Checking every second
      segment measured slower. The ceiling is
      ``2 × num_rounds × 2`` propagations: a (2 props + 1 jump)
      double round dominates a (1 prop + 1 jump) round, so the
      ceiling is at least as strong as ``num_rounds`` such rounds,
      and graphs that converge earlier pay nothing for it. An
      unconverged labeling would silently split true clusters, so
      exhausting the ceiling raises RuntimeError.
    - **The convergence witness is the bridging-edge check**:
      converged iff no edge joins two different labels — exact for
      every id type (strings included) and decisive on the very
      action that converges. Proof at ``_bridging``. Without
      ``checkpoint_dir`` each segment's local checkpoint is lazy, and
      the check's count() is what materializes it — one job per
      segment.

    ``dedup_edges=False`` skips the symmetric edge table's
    ``distinct()``: duplicate edges cannot change any min, only inflate
    the per-round join, so callers whose pair generator already emits
    distinct oriented pairs (the LSH/banded family) save the exchange.

    Pass a dict as ``stats_out`` to receive ``{"rounds": <segments
    executed>, "propagations": <total propagations run>, "converged":
    bool}`` (plus ``small_graph_fast_path_edges`` on the fast path) —
    the scale probes record the loop effort this way.

    ``checkpoint_dir`` swaps the per-segment localCheckpoint (blocks
    pinned in executor/driver storage memory) for an eager RELIABLE
    disk checkpoint rooted in a PER-RUN subdirectory of it
    (``<checkpoint_dir>/cc_<hex>``). On a cluster the local blocks
    spread over executor heaps and this is unnecessary; in local mode
    every segment's label table lands in the ONE driver-side block
    manager, and past ~50M edges that exhausts the default heap
    (BASELINE.md r9 probe needed SPARK_GRAFT_DRIVER_MEM=48g) —
    pointing ``checkpoint_dir`` at any scratch path removes that
    requirement at the cost of per-segment disk writes.

    Two lifecycle contracts when ``checkpoint_dir`` is set:

    - GLOBAL side effect: Spark has exactly one checkpoint directory
      per SparkContext, so this call re-points
      ``sparkContext.setCheckpointDir`` at the per-run subdirectory —
      any later ``df.checkpoint()`` elsewhere in the session lands
      there too until someone sets it again.
    - Disk lifecycle: SUPERSEDED segment checkpoints are deleted as
      the loop advances and only the FINAL labels' files remain at
      return — the returned DataFrame reads them, so they must
      outlive it (Spark itself deletes them at context shutdown only
      under ``spark.cleaner.referenceTracking.cleanCheckpoints=true``,
      recommended for long-lived sessions).
    """
    spark = vertices.sparkSession
    ckpt_root = None
    if checkpoint_dir is not None:
        import uuid

        ckpt_root = f"{checkpoint_dir.rstrip('/')}/cc_{uuid.uuid4().hex[:12]}"
        spark.sparkContext.setCheckpointDir(ckpt_root)
    # reliable checkpoints are eager: the superseded-checkpoint disk
    # sweep needs materialization order
    cleanup = ckpt_root is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        if cleanup:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=False)

    def _rdd_dirs() -> "dict[int, object]":
        # reliable checkpoints live at <root>/<uuid>/rdd-<id>; the id
        # rises monotonically, so "newest" = max id
        jvm = spark._jvm
        glob = jvm.org.apache.hadoop.fs.Path(f"{ckpt_root}/*/rdd-*")
        fs = jvm.org.apache.hadoop.fs.Path(ckpt_root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        out = {}
        for st in fs.globStatus(glob) or []:
            p = st.getPath()
            try:
                out[int(str(p.getName()).rsplit("-", 1)[1])] = p
            except (ValueError, IndexError):
                continue
        return out

    def _drop_superseded(keep_ids: "set[int]", keep_newest: bool = True) -> None:
        # delete every materialized segment checkpoint except the
        # NEWEST (the current labels — the only one later segments and
        # the returned DataFrame read) and the pinned keep set (sym)
        dirs = _rdd_dirs()
        if not dirs:
            return
        newest = max(dirs) if keep_newest else None
        fs = spark._jvm.org.apache.hadoop.fs.Path(ckpt_root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for rid, p in dirs.items():
            if rid != newest and rid not in keep_ids:
                fs.delete(p, True)

    # an edge with a null endpoint connects nothing (null never equals
    # null, so the loop cannot propagate through it) and the driver
    # union-find cannot order or hash-match a null id; drop it up
    # front so both paths see the same graph
    edges = edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
    )
    if dedup_edges:
        sym = sym.distinct()
    # every segment joins against the edge table; without a barrier
    # the upstream pair-generation pipeline (e.g. MinHash-LSH) would
    # re-execute once per segment. Self-loops (added below) are
    # invisible to the bridging convergence check (their two label
    # lookups are equal by construction).
    #
    # The symmetric edge table is checkpointed BEFORE the
    # incident-vertex derivation, and the loop table is the lazy union
    # of the two checkpointed branches — checkpointing only the final
    # union put the upstream pipeline once under each union branch AND
    # once more under the incident distinct (callers without a
    # pre-checkpointed pair table, e.g. q_dedup_clusters' full minhash
    # chain, executed that upstream 2×). The union itself needs no
    # barrier: both branches are cached, and every consumer (the
    # per-propagation join, the bridging check) shuffles it anyway.
    # With reliable checkpoints both branches materialize NOW so their
    # rdd dirs can be pinned out of the per-segment sweep.
    sym = _ckpt(sym)
    fast_n = None
    if small_graph_edges:
        # the count materializes the checkpoint the loop needed
        # materialized anyway — in fast-path runs it is the only
        # distributed action the solve performs
        n_sym = sym.count()
        if n_sym <= small_graph_edges:
            fast_n = n_sym
    if fast_n is not None:
        labels = _union_find_labels(spark, sym, vertices.schema[id_col])
        pinned_ids: set = set()
    else:
        # only vertices an edge can reach ride the loop; the isolated
        # rest are singleton components appended after (sym is
        # symmetric, so its src side covers every endpoint). Derived
        # twice (self-loop union + loop init), both times off the
        # CHECKPOINTED symmetric table, so each is one cheap distinct
        # over the cache. The final anti-join reads the FINAL labels
        # table instead — same id set, and already the one checkpoint
        # the return must outlive.
        incident = sym.select("src").distinct()
        sym = _ckpt(
            sym.unionByName(incident.select("src", F.col("src").alias("dst")))
        )
        pinned_ids = set(_rdd_dirs()) if cleanup else set()
        labels = incident.select(
            F.col("src").alias("id"), F.col("src").alias("label")
        )

    def _bridging(lbl: DataFrame) -> int:
        # EXACT convergence witness, any id type: converged iff no
        # edge joins two labels. (⇐) no bridging edge ⇒ labels are
        # constant per component, and each component contains its own
        # minimum m with label(m) = m (labels only ever hold reachable
        # ids ≥ the component minimum and start at the vertex itself),
        # so every label IS the component minimum. (⇒) trivial. Unlike
        # a label-sum witness this needs NO second no-change segment —
        # the loop stops on the exact converging action — and it is
        # type-agnostic.
        return (
            sym.join(
                lbl.select(
                    F.col("id").alias("src"), F.col("label").alias("_l1")
                ),
                on="src",
            )
            .join(
                lbl.select(
                    F.col("id").alias("dst"), F.col("label").alias("_l2")
                ),
                on="dst",
            )
            .filter(F.col("_l1") != F.col("_l2"))
            .limit(1)
            .count()
        )

    # the shortcut's join references labels twice, so it rides only
    # every 2nd propagation: per-propagation shortcuts blew up the
    # segment plan and measured ~40% slower wall for the same action
    # count (see the docstring for the schedule and its ceiling)
    budget = 2 * num_rounds * 2
    spent = executed = 0
    converged = fast_n is not None
    while not converged and spent < budget:
        executed += 1
        seg = min(2 if executed == 1 else 4, budget - spent)
        spent += seg
        for _step in range(seg):
            # propagate: min label over self (self-loop) + neighbours
            labels = (
                sym.join(labels.withColumnRenamed("id", "src"), on="src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("label").alias("label"))
            )
            if (_step + 1) % 2 == 0:
                # shortcut: jump to the label's own label
                lab2 = labels.select(
                    F.col("id").alias("lid"), F.col("label").alias("llabel")
                )
                labels = (
                    labels.join(lab2, labels.label == lab2.lid, "left")
                    .select(
                        "id",
                        F.least(
                            F.col("label"),
                            F.coalesce(F.col("llabel"), F.col("label")),
                        ).alias("label"),
                    )
                )
        labels = _ckpt(labels)
        # the count materializes the (lazy) checkpoint and reads back
        # a single scalar — not a data collect
        converged = _bridging(labels) == 0
        # the superseded-segment sweep runs AFTER the convergence check
        if cleanup:
            _drop_superseded(pinned_ids)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {spent} "
            f"propagations across {executed} segments (budget "
            f"{budget}; an edge still bridges two labels); raise "
            "num_rounds"
        )
    if cleanup:
        # sym's pinned checkpoints are garbage once the bridging check
        # (their last consumer) is behind us: the returned DataFrame's
        # lineage is truncated at the final labels checkpoint, which
        # is the one rdd dir this sweep leaves on disk. Fast-path
        # labels are built on the driver and read no checkpoint, so
        # that path keeps none.
        _drop_superseded(set(), keep_newest=fast_n is None)
    if stats_out is not None:
        stats_out["rounds"] = executed
        stats_out["propagations"] = spent
        stats_out["converged"] = converged
        if fast_n is not None:
            stats_out["small_graph_fast_path_edges"] = fast_n
    # isolated vertices (never touched by an edge) are their own
    # singleton component; they skipped the loop entirely. The
    # anti-join reads the final labels checkpoint (its id set == the
    # edge-incident set), which is exactly the file the returned
    # DataFrame must outlive anyway — the reliable-checkpoint final
    # sweep can therefore drop every other checkpoint.
    rest = vertices.select(F.col(id_col).alias("id")).join(
        labels.select("id"), on="id", how="left_anti"
    )
    return labels.select("id", F.col("label").alias("component")).unionByName(
        rest.select("id", F.col("id").alias("component"))
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "leftId",
    dst_col: str = "rightId",
    num_rounds: int = 16,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Resolve candidate duplicate pairs into clusters with a keeper.

    Output per document: (docId, clusterId = min doc id in its
    cluster, clusterSize, isKeeper). Isolated documents form their
    own singleton cluster.

    Near-dup graphs converge in a few segments of
    :func:`connected_components`; ``checkpoint_dir`` forwards to it
    (disk checkpoints for giant local runs).
    """
    comp = connected_components(
        docs.select(F.col(id_col)),
        pairs,
        id_col,
        src_col,
        dst_col,
        num_rounds,
        checkpoint_dir=checkpoint_dir,
        # LSH candidate pairs are distinct oriented (left < right):
        # the symmetric union cannot contain duplicates
        dedup_edges=False,
    )
    # cluster size rides ONE window over the component exchange: the
    # old groupBy + join-back consumed `comp` twice (its final
    # subtree — the isolated-vertex anti-join + union — re-executed
    # per consumer) and paid two exchanges where this pays one (r14)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias("docId"),
        F.col("component").alias("clusterId"),
        F.count(F.lit(1)).over(w).cast("long").alias("clusterSize"),
        (F.col("id") == F.col("component")).alias("isKeeper"),
    )


def incremental_connected_components(
    labels: DataFrame,
    delta_edges: DataFrame,
    delta_vertices: DataFrame | None = None,
    id_col: str = "id",
    src_col: str = "leftId",
    dst_col: str = "rightId",
    remap_out: "dict | None" = None,
    num_rounds: int = 8,
    dedup_edges: bool = False,
) -> DataFrame:
    """Incremental duplicate-cluster maintenance: fold a DELTA batch's
    edges into an existing CONVERGED labeling without re-running
    connected components over history — the cluster-resolution member
    of the O(delta) daily-crawl loop (band-index append, O(delta)
    ceiling re-certification, delta candidate pairs, incremental C4
    scrub... and previously a full-graph CC recompute every day).

    ``labels`` is a prior :func:`connected_components` result
    (id, component) — the CONTRACT is that it is converged (component
    = min reachable id; every component id labels itself); callers
    holding labels they did not just compute should run the sampled
    :func:`assert_labels_converged` guard first (the at-rest fold
    path, :func:`fold_cc_labels`, does so by default — this function
    stays lazy/action-free by design). New edges
    can only MERGE whole existing components, never split them, so
    the union graph contracts exactly to:

    - nodes: the delta edges' endpoints mapped through ``labels``
      (an endpoint's component if known, itself if new),
    - edges: those canonical pairs (self-loops dropped).

    That reduced graph is O(delta); the existing pointer-doubling
    kernel resolves it, and because old component ids ARE the minima
    of their vertex sets, the reduced labeling's minima equal the
    full recompute's minima — the output is IDENTICAL to
    ``connected_components`` over the union graph (pinned by oracle
    and property tests).

    Returns the FULL updated labeling: history relabelled through the
    (tiny, broadcast) old→new component remap — a map-only scan of
    ``labels`` with zero shuffle on the history side — plus one row
    per delta vertex (singletons keep their own id). Pass
    ``remap_out`` (a dict) to also receive ``{"remap": DataFrame}``
    of only the CHANGED (oldComponent, newComponent) rows — the
    alias-table maintenance path for consumers that defer the
    history rewrite. Never-seen edge endpoints always get rows;
    ``delta_vertices`` additionally rosters edgeless newcomers (as
    singleton clusters) and may overlap history — known ids are
    ignored (their rows come from the history side). ``num_rounds``
    and ``dedup_edges`` forward to :func:`connected_components` for
    the reduced solve; the reduced edges are distinct oriented by
    construction, so the symmetric-union dedup is off by default.
    """
    lab = labels.select(
        F.col(id_col).alias("_lid"), F.col("component").alias("_lcomp")
    )
    edges = delta_edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    canon = (
        edges.join(lab.withColumnRenamed("_lid", "_src"), on="_src", how="left")
        .withColumnRenamed("_lcomp", "_csrc")
        .join(lab.withColumnRenamed("_lid", "_dst"), on="_dst", how="left")
        .withColumnRenamed("_lcomp", "_cdst")
        .select(
            # orient each canonical pair (min, max) BEFORE the
            # distinct: components are orientation-insensitive, and
            # orienting halves the distinct output when both
            # directions occur (r14)
            F.least(
                F.coalesce(F.col("_csrc"), F.col("_src")),
                F.coalesce(F.col("_cdst"), F.col("_dst")),
            ).alias("src"),
            F.greatest(
                F.coalesce(F.col("_csrc"), F.col("_src")),
                F.coalesce(F.col("_cdst"), F.col("_dst")),
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # every reduced-graph vertex is an edge endpoint, and the kernel
    # derives its loop set from the edges itself (r14) — the vertex
    # roster's only remaining role (isolated singletons) is empty
    # here, so pass an empty frame rather than paying a distinct over
    # canon's endpoints
    nodes = canon.select(F.col("src").alias("id")).limit(0)
    reduced = connected_components(
        nodes,
        canon,
        "id",
        "src",
        "dst",
        num_rounds=num_rounds,
        dedup_edges=dedup_edges,
    )
    # only the canonical ids whose label actually moved — O(changed
    # components), broadcastable by construction
    remap = reduced.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("_oldComp"), F.col("component").alias("_newComp")
    )
    if remap_out is not None:
        remap_out["remap"] = remap
    updated_history = (
        labels.select(F.col(id_col).alias("id"), "component")
        .join(
            F.broadcast(remap),
            F.col("component") == F.col("_oldComp"),
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("_newComp"), F.col("component")).alias(
                "component"
            ),
        )
    )
    # every never-seen vertex gets a row: edge endpoints always, plus
    # the optional delta_vertices roster (edgeless newcomers land as
    # singletons) — so the output's vertex set equals the full
    # recompute's regardless of how the caller supplies the delta
    incoming = (
        edges.select(F.col("_src").alias("id"))
        .unionByName(edges.select(F.col("_dst").alias("id")))
    )
    if delta_vertices is not None:
        incoming = incoming.unionByName(
            delta_vertices.select(F.col(id_col).alias("id"))
        )
    new_ids = incoming.distinct().join(
        lab.withColumnRenamed("_lid", "id"), on="id", how="left_anti"
    )
    new_rows = new_ids.join(
        F.broadcast(remap), F.col("id") == F.col("_oldComp"), "left"
    ).select(
        "id", F.coalesce(F.col("_newComp"), F.col("id")).alias("component")
    )
    if remap_out is not None:
        # the at-rest maintenance pieces (cc_labels step): appending
        # new_rows + folding remap into an alias sidecar updates the
        # persisted labeling WITHOUT the O(history) rewrite below
        remap_out["new_rows"] = new_rows
    return updated_history.unionByName(new_rows)


_ALIAS_EPOCH_PREFIX = "_aliases_e"


def _recover_compact(spark, path: str) -> None:
    """Finish an interrupted ``compact_cc_labels``: if the label root
    is MISSING but a committed compaction result sits at the sibling
    tmp path, rename it into place. Called at the top of every
    loader/fold/compact entry, so a crash in compaction's
    delete→rename window self-heals on the next touch; a no-op
    (one existence check) in normal operation."""
    from genetics_spark_coloc_spark.session import (  # noqa: PLC0415
        recover_interrupted_overwrite,
    )

    recover_interrupted_overwrite(spark, path)


def _alias_state(spark, path: str):
    """Discover the CURRENT alias sidecar of a ``cc_labels`` index:
    returns ``(aliases DataFrame | None, committed epoch int)``.

    Protocol: alias epochs live at ``{root}/_aliases_e{N}`` and are
    COMMITTED by the ``_SUCCESS`` marker Spark's job commit writes
    last — a crashed epoch write leaves a marker-less directory that
    is ignored (and overwritten by the next fold, which reuses the
    epoch number). The highest committed epoch wins; the legacy
    un-versioned ``{root}/_aliases`` directory is honoured as epoch 0
    when no committed epoch exists (pre-protocol indexes keep
    loading; their first fold migrates them).

    Loud-read discipline (the r12 finding this replaces): path
    ABSENCE is checked through the Hadoop FS API and is the ONLY
    condition that means "no sidecar". A present-but-unreadable
    sidecar (corrupt footer, permission failure, transient FS error)
    RAISES — the old blanket ``except Exception`` silently returned
    stale component ids as current, and a subsequent fold would
    contract the next delta against an unresolved labeling.
    """
    import re  # noqa: PLC0415

    from genetics_spark_coloc_spark.session import (  # noqa: PLC0415
        hadoop_list_names,
        hadoop_path_exists,
    )

    epochs = []
    pat = re.compile(re.escape(_ALIAS_EPOCH_PREFIX) + r"(\d+)$")
    for name in hadoop_list_names(spark, path):
        m = pat.match(name)
        if m and hadoop_path_exists(spark, f"{path}/{name}/_SUCCESS"):
            epochs.append(int(m.group(1)))
    if epochs:
        e = max(epochs)
        return spark.read.parquet(f"{path}/{_ALIAS_EPOCH_PREFIX}{e}"), e
    legacy = f"{path}/_aliases"
    if hadoop_path_exists(spark, legacy):
        return spark.read.parquet(legacy), 0
    return None, 0


def _resolve_labels(labels: DataFrame, aliases: "DataFrame | None") -> DataFrame:
    if aliases is None:
        return labels.select("id", "component")
    return (
        labels.join(
            F.broadcast(aliases),
            labels.component == aliases.oldComp,
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("newComp"), F.col("component")).alias(
                "component"
            ),
        )
    )


def assert_labels_converged(
    labels: DataFrame,
    sample: int = 64,
    context: str = "labels",
    exempt_ids: "DataFrame | None" = None,
) -> None:
    """Sampled runtime guard on the converged-labeling contract that
    :func:`incremental_connected_components` builds on (component =
    min reachable id, so every component id labels ITSELF): take up
    to ``sample`` distinct component ids and require each to have an
    (id=c, component=c) row. Unconverged input silently yields wrong
    clusters downstream (the contraction assumes one hop resolves
    membership); this turns it into the house-style loud failure.
    O(sample) driver rows + one pushed-down isin scan — cheap enough
    to run per fold, not a full-table validation.

    ``exempt_ids`` (a single-column DataFrame of vertex ids) relaxes
    the self-labeling requirement for those ids only: a fold crash
    mid job-commit of the new-rows append can leave a PARTIAL append
    — the fourth crash state — where an appended row's post-fold
    canonical (itself a new vertex) is missing its own row. The
    documented repair is refolding the same delta, so the refold's
    guard must not block on component ids the CURRENT delta itself
    introduces; genuine corruption of the history still fails loudly.
    """
    comps = [
        r[0]
        for r in labels.select("component")
        .limit(sample * 8)
        .distinct()
        .limit(sample)
        .collect()
    ]
    if not comps:
        return
    self_labeled = {
        r[0]
        for r in labels.filter(F.col("id").isin(comps))
        .filter(F.col("id") == F.col("component"))
        .select("id")
        .collect()
    }
    bad = [c for c in comps if c not in self_labeled]
    if bad and exempt_ids is not None:
        ex_col = exempt_ids.columns[0]
        exempt = {
            r[0]
            for r in exempt_ids.filter(F.col(ex_col).isin(bad))
            .select(ex_col)
            .distinct()
            .collect()
        }
        bad = [c for c in bad if c not in exempt]
    if bad:
        raise ValueError(
            f"cc_labels: {context} is not a converged labeling — sampled "
            f"component id(s) {bad[:5]} do not label themselves (no "
            "(id=c, component=c) row). incremental_connected_components "
            "requires component = min reachable id; feed it a "
            "connected_components result (or a cc_labels index resolved "
            "through load_cc_labels), or re-run the full build "
            "(cc_labels mode=overwrite)."
        )


def load_cc_labels(spark, path: str) -> DataFrame:
    """Load a persisted component labeling (written by the
    ``cc_labels`` step) RESOLVED through its alias sidecar: label
    shards at the root hold (id, component) as of their write time;
    the committed alias epoch (``_aliases_e{N}``, underscore path —
    invisible to parquet readers of the root) maps every superseded
    component id to its CURRENT canonical in ONE hop — append-mode
    folds keep it composed, so resolution is a single broadcast
    join, never a chain walk.

    Sidecar absence is decided by a Hadoop-FS existence check; a
    present-but-unreadable sidecar raises instead of silently
    serving stale labels. An interrupted compaction (committed
    result at the sibling tmp path, root deleted) is finished here
    before reading.

    Contract: the table covers EDGED vertices (plus any rostered
    newcomers); an id absent from it is its own singleton component.
    Single-writer: folds/compactions of one index must not run
    concurrently with each other — ENFORCED since r14 by the
    exclusive writer lease at ``{root}__lease`` (see
    ``session.acquire_writer_lease``; the second writer fails loudly
    naming the holder). Readers take no lease: a reader racing a fold
    may fail loudly when the superseded epoch is cleaned up mid-plan
    — never silently stale (the loud-read discipline holds either
    way).
    """
    _recover_compact(spark, path)
    labels = spark.read.parquet(path)
    aliases, _ = _alias_state(spark, path)
    return _resolve_labels(labels, aliases)


def compact_cc_labels(spark, path: str, force: bool = False) -> None:
    """Public entry of :func:`_compact_cc_labels_unlocked` under the
    index's exclusive writer lease (r14 — the single-writer contract
    is enforced, not prose: two concurrent compactions interleave
    their delete→rename windows into unrepairable corruption). Fails
    loudly naming the holder when another writer owns the index; a
    crashed holder's lease is taken over after
    ``session.WRITER_LEASE_STALE_S``."""
    from genetics_spark_coloc_spark.session import writer_lease  # noqa: PLC0415

    with writer_lease(spark, path, "compact_cc_labels"):
        _compact_cc_labels_unlocked(spark, path, force)


def _compact_cc_labels_unlocked(spark, path: str, force: bool = False) -> None:
    """Fold the alias sidecar back into the label shards — crash-safe:

    1. write the RESOLVED labeling to the sibling ``{root}__compacting``
       directory (committed by its ``_SUCCESS`` marker);
    2. delete the root (shards + every alias epoch die with it);
    3. rename the tmp directory into place.

    A crash before (2) leaves the root untouched (the stale tmp is
    cleared on the next attempt); a crash between (2) and (3) leaves
    the committed result at the tmp path, and every entry point
    (:func:`load_cc_labels`, :func:`fold_cc_labels`, this function)
    finishes the rename via :func:`_recover_compact` — so at ANY
    crash point the index is either the pre-compact state or the
    complete post-compact state, never a torn mix.
    """
    from genetics_spark_coloc_spark.session import (  # noqa: PLC0415
        crash_safe_overwrite_parquet,
    )

    _recover_compact(spark, path)
    labels = spark.read.parquet(path)
    aliases, epoch = _alias_state(spark, path)
    if aliases is None and epoch == 0 and not force:
        # nothing to fold — skip the O(history) rewrite. The inline
        # auto-compaction trigger takes this path; the explicit step
        # passes force=True so a user-invoked compact also
        # consolidates the per-fold appended shards into one clean
        # resolved table (the file-count cleanup compact always did).
        return
    crash_safe_overwrite_parquet(_resolve_labels(labels, aliases), path)


def fold_cc_labels(
    edges: DataFrame,
    labels_path: str,
    src_col: str = "leftId",
    dst_col: str = "rightId",
    num_rounds: int = 16,
    verify_converged: int = 64,
    alias_compact_rows: int = 1_000_000,
) -> None:
    """Public entry of :func:`_fold_cc_labels_unlocked` under the
    index's exclusive writer lease (r14): concurrent folds of one
    ``cc_labels`` root — a cron-driven daily loop racing a manual
    backfill is the production shape — can interleave their shard
    appends and epoch commits into states no refold repairs. The
    second writer fails loudly naming the holder; a crashed holder's
    lease is taken over after ``session.WRITER_LEASE_STALE_S``. The
    inline auto-compaction runs under the SAME lease (no re-acquire)."""
    from genetics_spark_coloc_spark.session import writer_lease  # noqa: PLC0415

    with writer_lease(edges.sparkSession, labels_path, "fold_cc_labels"):
        _fold_cc_labels_unlocked(
            edges,
            labels_path,
            src_col=src_col,
            dst_col=dst_col,
            num_rounds=num_rounds,
            verify_converged=verify_converged,
            alias_compact_rows=alias_compact_rows,
        )


def _fold_cc_labels_unlocked(
    edges: DataFrame,
    labels_path: str,
    src_col: str = "leftId",
    dst_col: str = "rightId",
    num_rounds: int = 16,
    verify_converged: int = 64,
    alias_compact_rows: int = 1_000_000,
) -> None:
    """Fold a delta edge batch into a persisted ``cc_labels`` index —
    the shared kernel behind the ``cc_labels mode=append`` step and
    ``streaming_cc_maintenance``: resolve the at-rest labeling once
    (one broadcast alias hop), contract the delta onto it, then update
    the index as two O(delta) writes. New-vertex rows land as an
    appended label shard; the changed-component remap COMPOSES into
    a NEW alias epoch (existing aliases re-target through the remap —
    their keys are historical components, the remap's keys are
    CURRENT canonicals, so the union is key-disjoint and resolution
    stays ONE hop). History shards are never rewritten.

    **Crash contract** (tested with planted mid-fold failures): the
    two writes are ordered shard-append THEN alias-epoch commit (the
    epoch's ``_SUCCESS`` marker is the commit point; a marker-less
    epoch directory is ignored and overwritten on retry). A crash at
    any point leaves one of four states — pre-fold, appended-rows-
    only (a CONVERGED labeling in which the delta's new vertices
    carry post-fold canonicals while history still resolves through
    the previous epoch: clusters split but never torn), PARTIALLY
    appended (a crash mid job-commit of the append leaves some new
    rows whose canonical — itself a new vertex — is missing its own
    row; the converged-input guard exempts the current delta's
    vertex ids so the refold below is not blocked), or complete
    post-fold — and **re-running the same fold repairs all of them**:
    the new-vertex append is idempotent (vertices already present are
    excluded by the contraction's left_anti) and the remap re-derives
    from the same delta edges against whichever state survived.

    ``verify_converged`` (rows; 0 disables) runs the sampled
    :func:`assert_labels_converged` guard on the resolved input —
    a hand-built or corrupted index fails loudly instead of silently
    producing wrong clusters. ``alias_compact_rows`` bounds the
    sidecar (it is broadcast on every resolution and otherwise grows
    by |changed components| per fold forever): when the composed
    epoch would exceed the bound, the fold finishes with an inline
    crash-safe :func:`compact_cc_labels` — the counts-ledger
    self-compaction rule applied to the labeling (O(history) paid
    once per ~``alias_compact_rows`` superseded components).
    """
    from genetics_spark_coloc_spark.session import (  # noqa: PLC0415
        hadoop_delete,
        hadoop_list_names,
    )

    spark = edges.sparkSession
    _recover_compact(spark, labels_path)
    labels = spark.read.parquet(labels_path)
    aliases, epoch = _alias_state(spark, labels_path)
    resolved = _resolve_labels(labels, aliases)
    if verify_converged:
        # exempt the delta's own vertices from the self-labeling
        # requirement: a crash mid job-commit of a previous fold's
        # new-rows append (partial append — see the crash contract
        # below) leaves rows whose canonical is a missing NEW vertex;
        # refolding the same delta is the documented repair and must
        # not be blocked by the guard it is about to fix
        delta_vertices = (
            edges.select(F.col(src_col).alias("v"))
            .unionByName(edges.select(F.col(dst_col).alias("v")))
            .distinct()
        )
        assert_labels_converged(
            resolved,
            verify_converged,
            context=labels_path,
            exempt_ids=delta_vertices,
        )
    parts: dict = {}
    incremental_connected_components(
        resolved,
        edges,
        src_col=src_col,
        dst_col=dst_col,
        remap_out=parts,
        num_rounds=num_rounds,
    )
    remap = parts["remap"].localCheckpoint(eager=True)
    new_rows = parts["new_rows"].localCheckpoint(eager=True)
    # (1) new-vertex shard append — idempotent under refold (left_anti
    # against the resolved labels excludes already-appended vertices)
    if new_rows.take(1):
        new_rows.write.mode("append").parquet(labels_path)
    # (2) alias-epoch commit — only when something actually merged;
    # an all-new or all-disjoint delta leaves the sidecar untouched
    if not remap.take(1):
        return
    r = remap.select(
        F.col("_oldComp").alias("oldComp"),
        F.col("_newComp").alias("newComp"),
    )
    if aliases is not None:
        r = (
            aliases.join(
                F.broadcast(remap),
                aliases.newComp == F.col("_oldComp"),
                "left",
            )
            .select(
                "oldComp",
                F.coalesce(F.col("_newComp"), F.col("newComp")).alias(
                    "newComp"
                ),
            )
            .unionByName(r)
            .localCheckpoint(eager=True)
        )
    n_alias = r.count()
    r.write.mode("overwrite").parquet(
        f"{labels_path}/{_ALIAS_EPOCH_PREFIX}{epoch + 1}"
    )
    # best-effort cleanup of superseded epochs (and the legacy
    # un-versioned sidecar) — a crash here just leaves garbage the
    # loader ignores, retried on the next fold
    for name in hadoop_list_names(spark, labels_path):
        if name == "_aliases" or (
            name.startswith(_ALIAS_EPOCH_PREFIX)
            and name != f"{_ALIAS_EPOCH_PREFIX}{epoch + 1}"
        ):
            hadoop_delete(spark, f"{labels_path}/{name}")
    if n_alias > alias_compact_rows:
        # already under the fold's writer lease — no re-acquire
        _compact_cc_labels_unlocked(spark, labels_path)
