"""Ontology graph operators: distributed transitive closure and
biosample-index assembly.

Reference: datasource/biosample_ontologies/utils.py:12-142. There the
is_a graph is collected to the driver (``rdd.collectAsMap``) and each
node's ancestor set is computed by a Python BFS UDF over a broadcast
dict — fine for a 20k-node ontology, a dead end for larger graphs and
a per-row O(V) worst case. Here the closure is computed IN Spark by
path doubling: each round joins the current closure with itself, so
reachable path lengths double per iteration and a depth-d DAG
converges in ceil(log2(d)) + 1 rounds, each a hash join + distinct.
``localCheckpoint`` truncates lineage so plans don't grow with
iterations.

Scale: every round shuffles on the join key (node id). For a DAG with
E edges and closure size C, the work is O(C) rows per round and
log(d) rounds — the standard dataframe-native closure strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# most reachability pairs the driver-side closure holds before it
# declines to the distributed loop
DRIVER_PAIR_BOUND = 2_000_000


def _closure_local(
    spark,
    paths: DataFrame,
    keys: "list[str]",
    max_pairs: "int | None",
) -> "DataFrame | None":
    """Driver-side exact closure of a SMALL edge table (the
    ``small_graph_edges`` fast path of :func:`transitive_closure` —
    the same bounded-local device as ``connected_components``'
    union-find, and the shape the reference itself uses for
    ontologies: its BFS runs on a collected dict). Memoized DFS over
    the adjacency computes reach(node) = ∪_parents ({p} ∪ reach(p))
    in O(closure-size) set work. Returns None to decline — on a
    detected cycle (the memoization would not terminate; the
    distributed distinct-fixpoint loop handles cycles) or when the
    closure outgrows ``DRIVER_PAIR_BOUND`` (legal size, just too big
    to hold locally). Raises the max_pairs RuntimeError exactly like
    the distributed guard when the TRUE closure exceeds it."""
    import pandas as pd

    pdf = paths.toPandas()
    adj: dict = {}
    for row in pdf.itertuples(index=False):
        row = tuple(row)
        kt, node, dest = row[:-2], row[-2], row[-1]
        adj.setdefault(kt, {}).setdefault(node, []).append(dest)
    hard = max_pairs if max_pairs is not None else float("inf")
    soft = min(hard, DRIVER_PAIR_BOUND)
    out_keys: list = []
    out_nodes: list = []
    out_dests: list = []
    total = 0
    for kt, g in adj.items():
        reach: dict = {}
        state: dict = {}  # 1 = in progress (gray), 2 = done
        for start in g:
            if state.get(start) == 2:
                continue
            stack = [(start, iter(g.get(start, ())))]
            state[start] = 1
            while stack:
                node, it = stack[-1]
                advanced = False
                for p in it:
                    if state.get(p) == 1:
                        return None  # cycle — distributed loop handles it
                    if state.get(p) != 2 and p in g:
                        stack.append((p, iter(g[p])))
                        state[p] = 1
                        advanced = True
                        break
                if advanced:
                    continue
                stack.pop()
                acc: set = set()
                for p in g.get(node, ()):
                    acc.add(p)
                    acc |= reach.get(p, frozenset())
                reach[node] = acc
                state[node] = 2
                total += len(acc)
                if total > soft:
                    if total > hard:
                        raise RuntimeError(
                            f"transitive_closure output bound: over "
                            f"{total} reachability pairs exceed "
                            f"max_pairs={max_pairs}. The closure is "
                            "O(V*depth) pairs (O(V^2) worst case) — for "
                            "connectivity on large dense graphs use "
                            "connected_components (operators/graph.py), "
                            "or raise max_pairs explicitly."
                        )
                    return None  # legal but too big to hold locally
        for node, acc in reach.items():
            for dest in sorted(acc):
                out_keys.append(kt)
                out_nodes.append(node)
                out_dests.append(dest)
    cols = {}
    for i, k in enumerate(keys):
        cols[k] = [kt[i] for kt in out_keys]
    cols["node"] = out_nodes
    cols["dest"] = out_dests
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in paths.schema.fields
    )
    if not out_nodes:
        return spark.createDataFrame([], schema=schema)
    return spark.createDataFrame(pd.DataFrame(cols), schema=schema)


def transitive_closure(
    edges: DataFrame,
    node_col: str = "subject",
    dest_col: str = "object",
    max_iterations: int = 20,
    group_cols: "tuple[str, ...]" = (),
    max_pairs: "int | None" = 100_000_000,
    small_graph_edges: "int | None" = 50_000,
) -> DataFrame:
    """All (node, ancestor) pairs reachable through ``edges``.

    ``edges`` rows are direct links node→dest (e.g. is_a child→parent).
    Returns distinct reachability pairs (node, dest), excluding
    self-loops unless present in the input. Converges when a round
    adds no new pairs; raises if ``max_iterations`` rounds don't
    reach a fixpoint (cycle longer than 2^max_iterations).

    ``group_cols`` ride the self-join key, so DISJOINT graphs (e.g.
    one ontology per tag) close in ONE shared iteration loop — the
    round count becomes max depth over the graphs instead of the sum,
    and each round is one driver action instead of one per graph.

    MEASURED DEAD END (r11, do not retry): fusing TWO doubling steps
    into one lazily-built plan per checkpoint+count (to halve the
    driver-synchronous rounds) made biosample_index 43 jobs/3.8 s →
    52 jobs/9.3 s — the fused plan references the unmaterialized
    first double twice, duplicating its join+distinct STAGES, and on
    small graphs per-stage fixed cost dominates, so the duplicated
    stages cost more than the saved rounds.

    OUTPUT-SIZE BOUND: the closure MATERIALIZES the full reachability
    set — O(V · depth) pairs on tree-like DAGs, O(V²) worst case. An
    ontology (10⁵ nodes, depth ~20) is a few million rows; a social or
    citation graph is NOT — for "which nodes are connected" on such
    graphs use ``connected_components`` (operators/graph.py), which
    materializes one label per node, not per path. Mirroring the CC
    convergence guard, ``max_pairs`` (default 1e8) aborts loudly the
    first round the closure exceeds it — the count is already driver-
    side for convergence, so the guard costs nothing. ``None``
    disables.
    """
    keys = list(group_cols)
    paths = (
        edges.select(
            *keys,
            F.col(node_col).alias("node"),
            F.col(dest_col).alias("dest"),
        )
        .where(F.col("node").isNotNull() & F.col("dest").isNotNull())
        .distinct()
        # lazy checkpoint: the count() below materializes it, so each
        # round costs ONE job, not an eager-checkpoint job plus a
        # count job — these driver-synchronous rounds are the whole
        # cost of the closure on small graphs
        .localCheckpoint(eager=False)
    )
    count = paths.count()
    # r15 bounded-local fast path (the connected_components
    # small_graph_edges device; see _closure_local): ontologies are
    # SMALL by nature — the reference computes this closure on a
    # collected driver dict. When the distinct edge table fits
    # ``small_graph_edges``, the exact closure is computed driver-side
    # in one pass instead of log(depth) join+distinct+count rounds;
    # it declines (returns None) on cycles or when the closure
    # outgrows ``DRIVER_PAIR_BOUND``, falling through to the
    # distributed loop unchanged. max_pairs is enforced either way.
    if small_graph_edges and count <= small_graph_edges:
        local = _closure_local(edges.sparkSession, paths, keys, max_pairs)
        if local is not None:
            return local
    for _ in range(max_iterations):
        cond = F.col("a.dest") == F.col("b.node")
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        doubled = (
            paths.alias("a")
            .join(paths.alias("b"), cond, "inner")
            .select(
                *[F.col(f"a.{k}").alias(k) for k in keys],
                F.col("a.node").alias("node"),
                F.col("b.dest").alias("dest"),
            )
        )
        new_paths = (
            paths.unionByName(doubled).distinct().localCheckpoint(eager=False)
        )
        new_count = new_paths.count()
        if max_pairs is not None and new_count > max_pairs:
            raise RuntimeError(
                f"transitive_closure output bound: {new_count} reachability "
                f"pairs exceed max_pairs={max_pairs}. The closure is "
                "O(V*depth) pairs (O(V^2) worst case) — for connectivity on "
                "large dense graphs use connected_components "
                "(operators/graph.py), or raise max_pairs explicitly."
            )
        if new_count == count:
            return new_paths
        paths, count = new_paths, new_count
    raise RuntimeError(
        f"transitive_closure did not converge in {max_iterations} iterations"
    )


def ancestors_and_descendants(
    is_a_edges: DataFrame, max_pairs: "int | None" = 100_000_000
) -> DataFrame:
    """Per-node sorted ancestor and descendant arrays from is_a edges
    (reference utils.py:119-134 — there two driver-side BFS passes;
    here one closure, aggregated both directions).

    NOTE: the underlying closure aborts loudly past ``max_pairs``
    reachability pairs (default 1e8 — ample for any ontology, a
    deliberate tripwire for graphs that should use
    ``connected_components`` instead). Callers with legitimately
    larger closures pass a higher bound or ``None`` explicitly here.
    """
    closure = transitive_closure(is_a_edges, max_pairs=max_pairs)
    ancestors = closure.groupBy("node").agg(
        F.sort_array(F.collect_set("dest")).alias("ancestors")
    )
    descendants = closure.groupBy(F.col("dest").alias("node")).agg(
        F.sort_array(F.collect_set("node")).alias("descendants")
    )
    return ancestors.join(descendants, on="node", how="full_outer")


def build_biosample_index(
    nodes: DataFrame,
    is_a_edges: DataFrame,
    max_pairs: "int | None" = 100_000_000,
) -> DataFrame:
    """Assemble the biosample index (reference utils.py:110-142):
    node metadata joined with ancestor/descendant arrays.

    ``nodes``: (biosampleId, biosampleName, description);
    ``is_a_edges``: (subject, object) direct is_a pairs.
    ``max_pairs`` threads through to the closure's output bound.
    """
    rel = ancestors_and_descendants(is_a_edges, max_pairs=max_pairs).withColumnRenamed(
        "node", "biosampleId"
    )
    return nodes.join(rel, on="biosampleId", how="left")


def retain_rows_with_ancestor_id(
    index: DataFrame, ancestor_ids: "list[str]"
) -> DataFrame:
    """Rows whose ancestor set intersects ``ancestor_ids`` (reference
    dataset/biosample_index.py:74-94) — e.g. restricting EFO to
    cell-related terms under CL_0000000. Rows with a null ancestors
    array are dropped, matching the reference's null-propagating
    array_intersect filter."""
    wanted = F.array(*[F.lit(a) for a in ancestor_ids])
    return index.filter(
        F.size(F.array_intersect(F.col("ancestors"), wanted)) > 0
    )


def merge_biosample_indices(indices: "list[DataFrame]") -> DataFrame:
    """Merge per-ontology biosample indices into one (reference
    dataset/biosample_index.py:36-72): group by biosampleId; scalar
    columns take the first NON-NULL value, array columns the distinct
    union.

    The reference expresses "first" as ``F.first(ignorenulls=True)``
    over an unordered union — nondeterministic across partitionings.
    Here each input carries its list position as an explicit priority
    and scalars resolve via ``min_by`` over non-null values, so the
    merge is reproducible on any cluster; array unions are sorted for
    the same reason. Pass the inputs in the reference's union order
    (e.g. [uberon, efo, cell_ontology] for BiosampleIndexStep parity,
    biosample_index.py:40 puts ``self`` LAST).

    All inputs must share one schema; every non-key column's merge
    rule derives from its type in the first input.
    """
    from pyspark.sql.types import ArrayType  # noqa: PLC0415

    tagged = None
    for prio, df in enumerate(indices):
        t = df.withColumn("_prio", F.lit(prio))
        tagged = t if tagged is None else tagged.unionByName(t)
    schema = {f.name: f.dataType for f in indices[0].schema.fields}
    aggs = []
    for name, dtype in schema.items():
        if name == "biosampleId":
            continue
        if isinstance(dtype, ArrayType):
            aggs.append(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(F.coalesce(F.col(name), F.array().cast(dtype)))
                        )
                    )
                ).alias(name)
            )
        else:
            # ordering key is (_prio, value-as-string), not _prio
            # alone: if ONE input carries duplicate biosampleId rows
            # with differing scalars, bare-priority min_by ties and
            # the winner is partitioning-dependent; the struct key
            # breaks the tie on the value itself, so the merge is
            # reproducible for ALL inputs, not just deduplicated ones
            aggs.append(
                F.min_by(
                    F.col(name),
                    F.when(
                        F.col(name).isNotNull(),
                        F.struct(
                            F.col("_prio"), F.col(name).cast("string").alias("_v")
                        ),
                    ),
                ).alias(name)
            )
    return tagged.groupBy("biosampleId").agg(*aggs)


def assemble_biosample_index(
    cell_ontology: "tuple[DataFrame, DataFrame]",
    uberon: "tuple[DataFrame, DataFrame]",
    efo: "tuple[DataFrame, DataFrame]",
    cell_root: str = "CL_0000000",
    max_pairs: "int | None" = 100_000_000,
) -> DataFrame:
    """The composed BiosampleIndexStep (reference
    biosample_index.py:9-44): build a per-ontology index (node
    metadata + ancestor/descendant closure) for Cell Ontology, Uberon
    and EFO, restrict EFO to terms under ``cell_root``, and merge with
    first-non-null/union-of-arrays semantics in the reference's union
    order (uberon, efo, cell ontology).

    Each argument is a ``(nodes, is_a_edges)`` pair as produced by
    ``sources.obographs.read_obographs``. Closures stay logically
    per-ontology — matching the reference, which traverses each
    file's graph separately, so cross-ontology edges (e.g. EFO is_a
    pointing at a CL term) count toward the EFO index's ancestors but
    never extend the CL index — but execute as ONE tagged
    path-doubling loop (``group_cols`` rides the join key), so the
    iteration count is the max ontology depth instead of the sum and
    each round costs one driver action, not three.
    """
    tagged = None
    for tag, (_, edges) in (
        ("cl", cell_ontology),
        ("ub", uberon),
        ("efo", efo),
    ):
        t = edges.select(
            F.lit(tag).alias("_g"), F.col("subject"), F.col("object")
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    closure = transitive_closure(tagged, group_cols=("_g",), max_pairs=max_pairs)
    ancestors = closure.groupBy("_g", "node").agg(
        F.sort_array(F.collect_set("dest")).alias("ancestors")
    )
    descendants = closure.groupBy("_g", F.col("dest").alias("node")).agg(
        F.sort_array(F.collect_set("node")).alias("descendants")
    )
    rel = ancestors.join(descendants, on=["_g", "node"], how="full_outer")

    def idx(tag: str, nodes: DataFrame) -> DataFrame:
        r = rel.filter(F.col("_g") == tag).select(
            F.col("node").alias("biosampleId"), "ancestors", "descendants"
        )
        return nodes.join(r, on="biosampleId", how="left")

    cl_idx = idx("cl", cell_ontology[0])
    ub_idx = idx("ub", uberon[0])
    efo_idx = retain_rows_with_ancestor_id(idx("efo", efo[0]), [cell_root])
    return merge_biosample_indices([ub_idx, efo_idx, cl_idx])
