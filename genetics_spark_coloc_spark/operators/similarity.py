"""Similarity search over embedding columns (array<float>).

- exact cosine top-k (:func:`cosine_topk`): the small query set
  rides the task closure as a driver matrix, each Arrow batch of the
  corpus is one BLAS product, ranking window per query.
- LSH-bucketed variant (scale path): random-hyperplane signs derived
  deterministically from md5 of (planeIdx, dim) so the oracle can
  reproduce the buckets; candidates only join within a bucket.

At 100 TB the query set is the small side; the corpus scan stays
partition-local until the final per-query top-k shuffle (k rows per
batch per query after partial ranking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from genetics_spark_coloc_spark.functions.guards import guard_hot_buckets
from genetics_spark_coloc_spark.functions.reshape import declared_single_partition


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation, left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _valid_rows(vals: list, dim: "int | None") -> list:
    """Indices of batch cells that are actual ``dim``-length vectors
    (``dim=None`` accepts the first valid row's length). The Column
    forms null-propagate bad rows; the batch kernels must mask them
    the same way instead of crashing np.stack."""
    idx = []
    want = dim
    for i, a in enumerate(vals):
        if a is None:
            continue
        if want is None:
            want = len(a)
        if len(a) == want:
            idx.append(i)
    return idx


def cosine_vec(a: Column, b: Column) -> Column:
    """Cosine similarity as an Arrow-vectorized batch kernel: each
    batch is three numpy reductions over an (n×dim) pair block
    instead of a per-element Catalyst fold per row. Semantically
    identical to :func:`cosine` (BLAS summation order can differ in
    the last ulp — only observable for similarities within ~1e-13 of
    a downstream rounding boundary); null or length-mismatched pairs
    yield null, exactly like the Column fold. Use in verification hot
    paths over candidate pairs; keep :func:`cosine` for plan-only
    contexts.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(av, bv):
        xs, ys = av.tolist(), bv.tolist()
        out = [None] * len(xs)
        ok = [
            i
            for i in range(len(xs))
            if xs[i] is not None and ys[i] is not None and len(xs[i]) == len(ys[i])
        ]
        lens = {len(xs[i]) for i in ok}
        if len(lens) == 1:
            x = np.array([xs[i] for i in ok], dtype=np.float64)
            y = np.array([ys[i] for i in ok], dtype=np.float64)
            sims = np.einsum("ij,ij->i", x, y) / (
                np.sqrt(np.einsum("ij,ij->i", x, x))
                * np.sqrt(np.einsum("ij,ij->i", y, y))
            )
            for j, i in enumerate(ok):
                out[i] = float(sims[j])
        else:  # ragged batch (mixed dims) — rare; per-row fallback
            for i in ok:
                x = np.asarray(xs[i], dtype=np.float64)
                y = np.asarray(ys[i], dtype=np.float64)
                out[i] = float(x @ y / (np.sqrt(x @ x) * np.sqrt(y @ y)))
        # nullable Float64 so masked rows arrive as SQL NULL, not NaN
        # (Spark orders NaN above all numbers — a NaN would PASS
        # threshold filters the Column form's null would fail)
        return pd.Series(out, dtype="Float64")

    _cos.__annotations__ = {"av": pd.Series, "bv": pd.Series, "return": pd.Series}
    return pandas_udf(_cos, "double")(a, b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (queryId, neighborId, cosineSim, rank) with self-matches
    excluded and ties broken toward the smaller neighborId. The
    similarity is 6dp half-away rounded BEFORE ranking, so rank order
    is reproducible across engines.

    Built for a small query set: the queries collect to a driver
    matrix that rides the task closure, and each Arrow batch of the
    corpus is ONE (batch × dim) @ (dim × |Q|) product emitting only
    the per-batch top-k per query — a correct prefix of the final
    total order, so the closing exact rank shuffles
    O(k·batches·|Q|) rows, never corpus×|Q| (the pq_adc_topk
    device). ~50× the throughput of an interpreted per-pair
    zip_with fold (measured in BASELINE.md).

    Null, wrong-dimension and zero-norm vectors are dropped on both
    sides: a zero-norm row divides 0/0 into NaN, and Spark orders NaN
    ABOVE every number — under the DESC rank a single junk row would
    otherwise become every query's top-1 neighbour."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    dim = next(
        (len(r["qv"]) for r in qrows if r["qv"] is not None and len(r["qv"])),
        None,
    )
    qrows = [r for r in qrows if r["qv"] is not None and len(r["qv"]) == dim]
    qid_type = queries.schema[id_col].dataType.simpleString()
    vid_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"queryId {qid_type}, neighborId {vid_type}, cosineSim double"
    )
    src = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vv"),
    )
    if not qrows:
        return src.limit(0).select(
            F.col("vid").cast(qid_type).alias("queryId"),
            F.col("vid").alias("neighborId"),
            F.lit(None).cast("double").alias("cosineSim"),
            F.lit(None).cast("int").alias("rank"),
        )
    qrows.sort(key=lambda r: r["qid"])
    qids = [r["qid"] for r in qrows]
    qmat = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    nzq = qnorm > 0.0
    qids = [q for q, keep in zip(qids, nzq) if keep]
    qmat, qnorm = qmat[nzq], qnorm[nzq]
    n_q = len(qids)

    def _scan(batches):
        for pdf in batches:
            vids = pdf["vid"].to_numpy()
            vals = pdf["vv"].tolist()
            ok = _valid_rows(vals, dim)
            if not ok:
                continue
            mat = np.array([vals[i] for i in ok], dtype=np.float64)
            bvids = vids[ok]
            nrm = np.sqrt((mat * mat).sum(axis=1))
            nz = nrm > 0.0
            if not nz.any():
                continue
            mat, bvids, nrm = mat[nz], bvids[nz], nrm[nz]
            sims = _round_half_away(
                (mat @ qmat.T) / np.outer(nrm, qnorm)
            )  # (batch × |Q|)
            chunks = []
            for qi in range(n_q):
                keep = bvids != qids[qi]
                if not keep.any():
                    continue
                s, v = sims[keep, qi], bvids[keep]
                order = np.lexsort((v, -s))[:k]
                chunks.append(
                    pd.DataFrame(
                        {
                            "queryId": [qids[qi]] * len(order),
                            "neighborId": v[order],
                            "cosineSim": s[order],
                        }
                    )
                )
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    pruned = src.mapInPandas(_scan, out_schema)
    w = Window.partitionBy("queryId").orderBy(
        F.col("cosineSim").desc(), F.col("neighborId").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("queryId", "neighborId", "cosineSim", "rank")
    )


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the ANN staleness metric behind the ``ivf_index``/``ivfpq_index``
    ``mode=certify`` step: both inputs are (queryId, neighborId, ...)
    top-k tables (any score column; only the ID sets matter), recall
    per query = |approx ∩ exact| / |exact| (the exact list is already
    capped at k, and may be shorter on tiny corpora), averaged over
    the EXACT side's query set — a query the approximate search
    returned nothing for counts as recall 0, not a dropped row.

    One row: (nQueries, avgRecall, minRecall). Scale shape: two
    grouped counts + one join on (queryId, neighborId) — bounded by
    the top-k tables (n_queries × k rows), never the corpus.
    """
    e = exact.select("queryId", "neighborId")
    a = approx.select("queryId", "neighborId")
    n_exact = e.groupBy("queryId").agg(F.count(F.lit(1)).alias("nExact"))
    n_hit = (
        a.join(e, ["queryId", "neighborId"])
        .groupBy("queryId")
        .agg(F.count(F.lit(1)).alias("nHit"))
    )
    per_q = n_exact.join(n_hit, "queryId", "left").select(
        "queryId",
        (
            F.coalesce(F.col("nHit"), F.lit(0)) / F.col("nExact")
        ).alias("recall"),
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("nQueries"),
        F.round(F.avg("recall"), 6).alias("avgRecall"),
        F.round(F.min("recall"), 6).alias("minRecall"),
    )


def _plane_sign(p: int, d: int) -> float:
    """+1.0 if md5("p|d") starts with an even hex digit else -1.0 —
    identical to the SQL oracle's per-element md5 derivation, but
    computable driver-side because (p, d) are plan constants."""
    import hashlib

    first_hex = hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0]
    return 1.0 if first_hex in "02468ace" else -1.0


def _sign_bit_fold(
    vec: Column, num_planes: int, dim: int, plane_offset: int = 0
) -> Column:
    """Shared sign-bit accumulator: bit r = sign of the projection
    onto md5-derived plane (plane_offset + r); value = Σ bit_r·2^r.
    Both the single-band bucket and every band hash build on this, so
    the projection rule lives in exactly one place.

    Accumulates as bigint and supports up to 63 planes; beyond that
    2^r overflows long, so fail loudly rather than silently aliasing
    buckets (or erroring later under ANSI mode)."""
    if num_planes > 63:
        raise ValueError(
            f"num_planes={num_planes} exceeds 63: bit weights 2^r overflow "
            "a 64-bit bucket id; use more bands instead of wider bands"
        )
    if num_planes <= 0:
        # degenerate but accepted historically: zero planes = bucket 0
        # for every row (the Horner sequence(hi..0) would error on an
        # empty range, where the old unrolled loop just ran 0 times)
        return F.lit(0).cast("int")
    import json  # noqa: PLC0415

    # The sign matrix rides as ONE string literal decoded by a
    # constant-folded from_json, and the per-plane loop is a single
    # aggregate over sequence(hi..0) (Horner: acc·2 + bit_r), so the
    # expression tree is ~10 nodes instead of num_planes·dim — the
    # unrolled form cost 2-3 s of DRIVER analysis/codegen per fresh
    # plan at 32×64, a fixed per-query tax that dwarfed the actual
    # 500-row scan. Per-plane projection folds (zip_with + aggregate,
    # d ascending) are unchanged, so signatures are bit-identical;
    # plane visit order doesn't matter because the bucket id is an
    # exact integer sum.
    mat = [
        [_plane_sign(plane_offset + r, d) for d in range(dim)]
        for r in range(num_planes)
    ]
    signs = F.from_json(F.lit(json.dumps(mat)), "array<array<double>>")
    two = F.lit(2).cast("bigint")
    bucket = F.aggregate(
        F.sequence(F.lit(num_planes - 1), F.lit(0), F.lit(-1)),
        F.lit(0).cast("bigint"),
        lambda acc, r: acc * two
        + F.when(
            F.aggregate(
                F.zip_with(
                    vec, F.element_at(signs, r + 1), lambda x, s: x.cast("double") * s
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            > 0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    # keep the historical int schema where it cannot overflow; only
    # widen for >=32 planes (bit weights past 2^30 no longer fit int)
    return bucket.cast("int") if num_planes <= 31 else bucket.cast("bigint")


def hyperplane_bucket(vec: Column, num_planes: int = 8, dim: int = 64) -> Column:
    """Deterministic random-hyperplane LSH bucket id (int).

    Plane p's weight for dimension d is +1 if md5("p|d") starts with
    an even hex digit else -1 — reproducible in SQL. The sign matrix
    is a CONSTANT (num_planes × dim), so it is precomputed on the
    driver and embedded as literal arrays instead of evaluating
    num_planes·dim md5 calls per row. Bucket bit p = sign of
    Σ_d w(p,d)·vec[d]; bucket id = Σ bit_p·2^p.
    """
    return _sign_bit_fold(vec, num_planes, dim)


def assign_to_centroids_expr(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer as pure Column expressions (the exact-parity
    reference for :func:`assign_to_centroids` on CLEAN input —
    numeric ids, non-null fixed-width vectors): broadcast-join the
    centroid table, score every (vector, centroid) pair with a
    per-row cosine fold, argmax via max(struct). Deliberate
    divergences of the production kernel: invalid vectors (null /
    wrong length / zero norm) get null assignments instead of the
    arbitrary smallest-id centroid this form's null-sim struct max
    falls through to, and string ids are supported (the -centroidId
    negation here requires numeric ids).

    NOT the production path: the join materializes corpus×k rows and
    evaluates k dot-product folds per vector (k=256 probes measured
    ~10k vectors/s); the BLAS kernel form does the same work as one
    matmul per Arrow batch with no row explosion and no shuffle.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        norm(F.col(vec_col)).alias("vnorm"),
    )
    c = centroids.select(
        F.col(id_col).alias("centroidId"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = v.select("vid", "vnorm", "vv").join(F.broadcast(c)).withColumn(
        "centroidSim",
        F.round(dot(F.col("vv"), F.col("cv")) / (F.col("vnorm") * F.col("cnorm")), 6),
    )
    # argmax via max(struct(sim, -centroidId)): map-side partial
    # aggregation shuffles ONE candidate row per vector. Only the
    # (vid, sim, centroidId) triple rides the argmax shuffle — the
    # embedding array is re-attached by a join on vid afterwards, so
    # with the corpus bucketed by id at rest (the 100-TB layout) no
    # embedding bytes shuffle at all.
    best = scored.groupBy("vid").agg(
        F.max(
            F.struct(
                F.col("centroidSim").alias("sim"),
                (-F.col("centroidId")).alias("negCentroidId"),
            )
        ).alias("best")
    )
    return best.join(v, on="vid").select(
        "vid",
        "vv",
        "vnorm",
        (-F.col("best.negCentroidId")).alias("centroidId"),
        F.col("best.sim").alias("centroidSim"),
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer: each vector → nearest centroid by cosine,
    as one BLAS matmul per Arrow batch.

    The centroid table is tiny by construction (an IVF coarse
    quantizer is k ≤ a few thousand rows), so instead of a broadcast
    JOIN that materializes corpus×k rows and runs k cosine folds per
    vector, the collected (k×dim) centroid matrix rides the task
    closure and each Arrow batch scores all centroids in a single
    (n×dim)@(dim×k) product — no row explosion, NO shuffle at all
    (the _expr form needed an argmax exchange). Ties on the
    6dp-rounded similarity break toward the smaller centroidId,
    matching ``assign_to_centroids_expr`` (pinned by a parity test).
    Output: (vid, vv, vnorm, centroidId, centroidSim); vnorm stays a
    JVM-side fold so downstream cosine expressions are unchanged.
    """
    cids, cmat, cnorm, id_sql_type = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    return _assign_with_matrix(
        vectors, cids, cmat, cnorm, id_sql_type, id_col, vec_col
    )


def _collect_centroid_matrix(
    centroids: DataFrame, id_col: str, vec_col: str
):
    """Collect the (tiny) centroid table once: (ids ascending, k×dim
    matrix, norms, id SQL type). NOTE: this runs a Spark job at
    plan-build time — acceptable for a coarse quantizer's k rows;
    callers composing several assignments (ivf_topk) share one
    collect."""
    import numpy as np

    rows = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).collect()
    if not rows:
        raise ValueError("assign_to_centroids: centroids table is empty")
    bad = [r for r in rows if r["cv"] is None]
    if bad:
        raise ValueError("assign_to_centroids: centroid with null vector")
    lens = {len(r["cv"]) for r in rows}
    if len(lens) > 1:
        raise ValueError(
            f"assign_to_centroids: centroid vectors have mixed lengths {sorted(lens)}"
        )
    rows.sort(key=lambda r: r["cid"])
    cids = [r["cid"] for r in rows]
    cmat = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cnorm = np.sqrt(np.einsum("ij,ij->i", cmat, cmat))
    id_sql_type = centroids.schema[id_col].dataType.simpleString()
    return cids, cmat, cnorm, id_sql_type


def _round_half_away(x, ndigits: int = 6):
    """round-half-away-from-zero at 1e-6 — the tie direction Spark's
    F.round applies to doubles. (Spark rounds the SHORTEST DECIMAL
    repr via BigDecimal HALF_UP while this scales the binary double,
    so values within ~1ulp of a .5e-6 boundary can still differ — the
    same knife-edge every cross-engine rounded comparison in this
    repo accepts. np.round's half-to-even would differ on EVERY
    boundary instead.)"""
    import numpy as np

    scale = 10.0**ndigits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _argbest_rounded(mat, largest: bool, ndigits: int = 6):
    """Per-row arg-best (argmax if ``largest`` else argmin) of
    ``_round_half_away(mat)`` with the first-index tie break —
    WITHOUT rounding the full matrix. Rounding n×k floats costs ~10×
    the matmul that produced them (measured: 0.9 s vs 0.05 s per
    10k×256×8 batch), but rounding can only change the winner when a
    competitor sits within one 1e-6 grid step of the unrounded best
    (values further apart than the grid spacing round to strictly
    ordered values). So: unrounded argbest first, then re-round and
    re-rank JUST the rows that have a second candidate inside the
    grid step — ~0 rows on real-valued data. Semantics are pinned
    equal to round-everything-then-argbest by the parity tests."""
    import numpy as np

    # one grid step, widened by an absolute + RELATIVE slop so float
    # error in the ×10^6 scaling can never hide a competitor that
    # would round equal (the grid-step bound is exact in real
    # arithmetic; the absolute term covers the ulp wobble of the
    # scaled products near zero, and the |dbest|-proportional term
    # covers it at large magnitude — for |x| ≳ 5e5 the error of
    # x*1e6 exceeds any fixed absolute slop, so without the relative
    # term a rounding-equal competitor could escape the re-rank)
    n = mat.shape[0]
    if largest:
        best = mat.argmax(axis=1)
        dbest = mat[np.arange(n), best]
        eps = 10.0**-ndigits + 1e-10 + np.abs(dbest) * 4e-16
        close = mat >= (dbest - eps)[:, None]
    else:
        best = mat.argmin(axis=1)
        dbest = mat[np.arange(n), best]
        eps = 10.0**-ndigits + 1e-10 + np.abs(dbest) * 4e-16
        close = mat <= (dbest + eps)[:, None]
    risky = np.flatnonzero(close.sum(axis=1) > 1)
    if risky.size:
        rounded = _round_half_away(mat[risky], ndigits)
        best[risky] = (
            rounded.argmax(axis=1) if largest else rounded.argmin(axis=1)
        )
    return best


def _assign_with_matrix(
    vectors: DataFrame,
    cids: list,
    cmat,
    cnorm,
    id_sql_type: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dim = cmat.shape[1]
    cid_arr = np.array(cids)

    def _assign(vecs):
        vals = vecs.tolist()
        ids = [None] * len(vals)
        sims_out = [None] * len(vals)
        ok = _valid_rows(vals, dim)
        if ok:
            x = np.array([vals[i] for i in ok], dtype=np.float64)
            xnorm = np.sqrt(np.einsum("ij,ij->i", x, x))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (x @ cmat.T) / (xnorm[:, None] * cnorm[None, :])
            # a zero-norm centroid (or vector) makes its similarity
            # NaN, and NaN would poison argmax (numpy returns the NaN
            # index) — force degenerate entries to -inf so only real
            # similarities compete; all-degenerate rows yield null
            sims[~np.isfinite(sims)] = -np.inf
            # argmax of the ROUNDED sims without rounding the full
            # matrix (see _argbest_rounded); first max + ascending
            # cids => ties break toward the smaller centroid id
            best = _argbest_rounded(sims, largest=True)
            chosen = _round_half_away(sims[np.arange(len(best)), best])
            for j, i in enumerate(ok):
                if np.isfinite(chosen[j]):
                    ids[i] = cid_arr[best[j]].item()
                    sims_out[i] = float(chosen[j])
        return pd.DataFrame(
            {
                "centroidId": pd.Series(ids, dtype=object),
                "centroidSim": pd.Series(sims_out, dtype="Float64"),
            }
        )

    _assign.__annotations__ = {"vecs": pd.Series, "return": pd.DataFrame}
    kernel = pandas_udf(
        _assign, f"centroidId {id_sql_type}, centroidSim double"
    )

    return vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        norm(F.col(vec_col)).alias("vnorm"),
        kernel(F.col(vec_col)).alias("_a"),
    ).select(
        "vid",
        "vv",
        "vnorm",
        F.col("_a.centroidId").alias("centroidId"),
        F.col("_a.centroidSim").alias("centroidSim"),
    )


def ivf_members(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF inverted lists once: every corpus vector tagged
    with its nearest centroid. Persist/bucket THIS by ``centroidId``
    at rest and pass it to repeated :func:`ivf_topk` calls via
    ``members=`` — the index-build/search split every query batch
    after the first gets for free (re-assigning a 100 TB corpus per
    query batch is the anti-pattern this exists to avoid)."""
    cids, cmat, cnorm, id_sql_type = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    return _assign_with_matrix(
        corpus, cids, cmat, cnorm, id_sql_type, id_col, vec_col
    )


def ivf_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    members: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: nearest-centroid partition of the
    corpus (inverted lists), then exact cosine only within the
    query's ``nprobe`` closest clusters.

    The scale path for ANN beyond LSH: at 100 TB the corpus is
    bucketed ONCE by centroid (a write-time partition key), and each
    query touches nprobe inverted lists instead of the full corpus —
    the join below is an equi-join on centroidId, so Spark co-locates
    query and list partitions with an ordinary shuffle (or none, if
    the corpus is bucketed by centroidId at rest). Raising nprobe
    trades a linear increase in scanned lists for recall, exactly as
    in FAISS-style IVF indexes.

    Pass ``members`` (a persisted :func:`ivf_members` result) to skip
    rebuilding the inverted lists — the index-build/search split for
    repeated query batches; ``corpus`` may then be None (it is only
    consumed to build the lists). The centroids MUST be the ones the
    lists were built with — different centroids probe lists that do
    not correspond and silently return wrong neighbours; the
    ``ivf_index`` step ships its build-time centroids inside the
    index and :func:`load_ivf_index` returns them together.
    """
    cids, cmat, cnorm, id_sql_type = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    if members is None:
        if corpus is None:
            raise ValueError(
                "ivf_topk: pass corpus (to build the inverted lists) or "
                "members (a persisted ivf_members/ivf_index result)"
            )
        members = _assign_with_matrix(
            corpus, cids, cmat, cnorm, id_sql_type, id_col, vec_col
        )
    if nprobe <= 1:
        qassign = _assign_with_matrix(
            queries, cids, cmat, cnorm, id_sql_type, id_col, vec_col
        ).select(
            F.col("vid").alias("queryId"),
            F.col("vv").alias("qv"),
            F.col("vnorm").alias("qnorm"),
            "centroidId",
        )
    else:
        q = queries.select(
            F.col(id_col).alias("queryId"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qnorm"),
        )
        c = centroids.select(
            F.col(id_col).alias("centroidId"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("cnorm"),
        )
        wq = Window.partitionBy("queryId").orderBy(
            F.col("centroidSim").desc(), F.col("centroidId").asc()
        )
        qassign = (
            q.join(F.broadcast(c))
            .withColumn(
                "centroidSim",
                F.round(
                    dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")),
                    6,
                ),
            )
            .withColumn("probeRank", F.row_number().over(wq))
            .filter(F.col("probeRank") <= nprobe)
            .select("queryId", "qv", "qnorm", "centroidId")
        )
    scored = (
        qassign.join(
            members.select(
                F.col("vid").alias("neighborId"),
                F.col("vv").alias("nv"),
                F.col("vnorm").alias("nnorm"),
                "centroidId",
            ),
            on="centroidId",
        )
        .filter(F.col("queryId") != F.col("neighborId"))
        .withColumn(
            "cosineSim",
            F.round(
                dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm")), 6
            ),
        )
        # a zero-norm member divides 0/0 into NaN, and Spark orders
        # NaN ABOVE every number — one junk row in a probed list
        # would become the top-1 of every query probing it (r13, the
        # same exclusion cosine_topk makes); dimension mismatches fold
        # to NULL — drop both at the ranking boundary
        .filter(
            F.col("cosineSim").isNotNull() & ~F.isnan(F.col("cosineSim"))
        )
    )
    w = Window.partitionBy("queryId").orderBy(
        F.col("cosineSim").desc(), F.col("neighborId").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("queryId", "centroidId", "neighborId", "cosineSim", "rank")
    )


def load_ivf_index(spark, path: str):
    """Load a persisted IVF index (written by the ``ivf_index`` step):
    returns ``(members, centroids, meta)`` — the partitioned inverted
    lists, the BUILD-TIME centroids shipped inside the index (under
    ``_centroids``, invisible to parquet readers of the root), and the
    column-contract dict ``{id_col, vec_col, n_centroids}``.

    Always search with the returned centroids: an index probed with
    different centroids reads lists that do not correspond to the
    query assignment and silently returns wrong neighbours — the ANN
    twin of the band-parameter identity of the LSH index.

        members, cents, meta = load_ivf_index(spark, path)
        ivf_topk(None, queries, cents, members=members,
                 id_col=meta["id_col"], vec_col=meta["vec_col"])
    """
    import json
    import os

    from genetics_spark_coloc_spark.session import hadoop_read_text

    # Hadoop FS read, not driver-local open(): the sidecar lives on
    # the SAME filesystem as the parquet parts (hdfs://, s3a://, ...)
    meta_path = os.path.join(path, "_ivf_meta.json")
    try:
        meta = json.loads(hadoop_read_text(spark, meta_path))
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"load_ivf_index: {meta_path} missing — not an ivf_index step "
            "output? Load the members parquet directly and supply the "
            "build-time centroids yourself."
        ) from exc
    members = spark.read.parquet(path)
    centroids = spark.read.parquet(os.path.join(path, "_centroids"))
    return members, centroids, meta


def hyperplane_signature_bits_expr(
    vec: Column, num_planes: int, dim: int = 64
) -> Column:
    """All ``num_planes`` sign bits in ONE pass over the vector, as a
    pure Column expression (the exact-parity reference for
    :func:`hyperplane_signature_bits`; also usable where Python
    workers are unavailable).

    The dim×num_planes ±1 sign matrix is embedded dim-major and a
    single ``aggregate`` accumulates the projection vector:
    acc_p += vec[d]·sign(p,d) for d ascending — the SAME per-plane
    addition order as the per-plane fold, so projections are
    bit-identical to ``_sign_bit_fold``'s. Returns ``array<int>`` of
    0/1 sign bits (bit p = 1 iff projection_p > 0).

    NOT the production path: Catalyst evaluates the higher-order
    lambda chain element-at-a-time with per-row array allocation —
    measured ~0.65 ms/row at 64×32, i.e. ~180 CPU-hours per billion
    vectors, vs microseconds/row for the BLAS matmul in
    :func:`hyperplane_signature_bits`.
    """
    import json  # noqa: PLC0415

    # one constant-folded string literal, not dim·num_planes literal
    # nodes — same driver-side compile-cost fix as _sign_bit_fold
    signs_by_dim = F.from_json(
        F.lit(
            json.dumps(
                [[_plane_sign(p, d) for p in range(num_planes)] for d in range(dim)]
            )
        ),
        "array<array<double>>",
    )
    projections = F.aggregate(
        F.zip_with(
            vec, signs_by_dim, lambda x, row: F.transform(row, lambda s: x.cast("double") * s)
        ),
        F.array(*[F.lit(0.0)] * num_planes),
        lambda acc, row: F.zip_with(acc, row, lambda a, b: a + b),
    )
    return F.transform(
        projections, lambda pr: F.when(pr > 0, F.lit(1)).otherwise(F.lit(0))
    )


def hyperplane_signature_bits(
    vec: Column, num_planes: int, dim: int = 64
) -> Column:
    """All ``num_planes`` sign bits per vector, Arrow-vectorized.

    Dense projection is linear algebra, not relational logic: each
    Arrow batch is one (n×dim) @ (dim×num_planes) BLAS matmul —
    6×+ faster than the Column-expression form locally and 10-100×
    at scale (``hyperplane_signature_bits_expr`` keeps the exact
    slow-path reference; a unit test pins both to identical bits).
    This is one of the repo's two sanctioned Python-worker
    exceptions (with the multimodal decode): vectorized batch
    kernels, never row-at-a-time UDFs.

    BLAS may order the dim-summation differently from the sequential
    fold; a sign can only differ when a projection lands within
    ~1e-13 of zero, which the oracle comparison at every SF has
    never hit (and would surface as a hash mismatch, not silent
    corruption).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    signs = np.array(
        [[_plane_sign(p, d) for p in range(num_planes)] for d in range(dim)]
    )

    def _sig(vecs):
        vals = vecs.tolist()
        out = [None] * len(vals)
        ok = _valid_rows(vals, dim)
        if ok:
            x = np.array([vals[i] for i in ok], dtype=np.float64)
            bits = (x @ signs > 0).astype(np.int32)
            for j, i in enumerate(ok):
                out[i] = bits[j]
        # null/ragged rows stay None: a null signature makes every
        # band hash null, which the bucket equi-join drops — the same
        # null-propagation the Column-expression form has
        return pd.Series(out, dtype=object)

    # set real class annotations: the module-level `from __future__
    # import annotations` would stringify inline hints, which the
    # pandas_udf eval-type inference cannot resolve for a local name
    _sig.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "array<int>")(vec)


def lsh_cosine_candidates_banded(
    corpus: DataFrame,
    num_bands: int = 4,
    planes_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    hot_bucket_ceiling: "int | None" = 10_000,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """Multi-band hyperplane LSH candidates — the OR-construction
    (any band agreeing on all its planes ⇒ candidate), mirroring
    ``dedup.lsh_candidate_pairs``'s (bandIdx, bandHash) keying.

    The join key cardinality is num_bands · 2^planes_per_band and
    grows with planes_per_band, so per-bucket join fan-out stays
    bounded on arbitrarily large corpora (raise planes_per_band as
    the corpus grows; each band stays an equi-join). Output one row
    per candidate pair with the first agreeing band.

    BUT the bound is only as good as the embedding spread: 2^8
    hashes/band on near-collinear vectors funnels the corpus into a
    handful of buckets and the self-join goes quadratic (BASELINE.md
    documents the ~300M-pair blow-up this produces on noise). The
    shared hot-bucket guard (functions/guards.py) makes that loud:
    any (band, bandHash) bucket over ``hot_bucket_ceiling`` vectors
    aborts at execution time (``on_hot_bucket="raise"``, default) or
    is excluded from pairing (``"cap"``). Raise mode is bit-identical
    to the unguarded plan when nothing is hot; ``None`` disables —
    the same contract as every other banded generator
    (operators/dedup.py:117).

    The signature (num_bands·planes_per_band sign bits) is computed
    ONCE per row via ``hyperplane_signature_bits``; each band hash is
    then a cheap slice+fold of that small int array, keeping the
    expression trees tiny on both sides of the self-join.
    """
    if planes_per_band > 31:
        raise ValueError("planes_per_band must be <= 31 (int band hash)")
    total_planes = num_bands * planes_per_band
    sig = corpus.select(
        F.col(id_col).alias("docId"),
        hyperplane_signature_bits(F.col(vec_col), total_planes, dim).alias("_bits"),
    )
    weights = F.array(*[F.lit(1 << r) for r in range(planes_per_band)])

    def _band_hash(b: int) -> Column:
        sl = F.slice(F.col("_bits"), b * planes_per_band + 1, planes_per_band)
        return F.aggregate(
            F.zip_with(sl, weights, lambda bit, w: bit * w),
            F.lit(0),
            lambda a, x: a + x,
        )

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bandHash"))
            for b in range(num_bands)
        ]
    )
    # r14 grouped-explode pairing (the band_self_pairs device): ONE
    # groupBy(band, bandHash) collects each bucket's sorted member
    # list, the guard rides that aggregate as a count filter, and
    # pairs explode as (ids[i], ids[j]), i < j. The old self-join
    # consumed the bucketed table twice (hence a localCheckpoint
    # barrier against re-running the signature kernel) and its guard
    # added a counts aggregate + semi-join; this form has a single
    # consumer, so the barrier is gone and the band-key exchange is
    # the one shuffle the join needed anyway.
    from genetics_spark_coloc_spark.functions.guards import (
        hot_count_filter,
        validate_on_hot,
    )

    validate_on_hot(on_hot_bucket, "lsh_cosine_candidates_banded")
    bucketed = sig.select("docId", F.explode(bands).alias("bh")).select(
        "docId",
        F.col("bh.band").alias("band"),
        F.col("bh.bandHash").alias("bandHash"),
    )
    grouped = bucketed.groupBy("band", "bandHash").agg(
        F.sort_array(F.collect_list("docId")).alias("_ids"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    ok = hot_count_filter(
        grouped, "_cnt", hot_bucket_ceiling, on_hot_bucket,
        "lsh_cosine_candidates_banded",
    )
    lefts = ok.select(
        "band", "_ids", F.posexplode("_ids").alias("_i", "leftId")
    )
    return (
        lefts.select(
            "band",
            "leftId",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))
            ).alias("rightId"),
        )
        .filter(F.col("leftId") != F.col("rightId"))
        .groupBy("leftId", "rightId")
        .agg(F.min("band").alias("matchBand"))
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the
    coarse-quantizer TRAINING step IVF needs before
    ``assign_to_centroids`` can index anything (the counterpart of
    faiss's IVF train phase, expressed Spark-first).

    Deterministic and cross-engine replayable by construction:

    - init: the ``k`` smallest-id vectors, renumbered 0..k-1 — no RNG;
    - assign: :func:`assign_to_centroids` (one BLAS matmul per Arrow
      batch, ties on 6dp-rounded cosine toward the smaller id);
    - update: the per-cluster elementwise mean as ``dim`` avg
      aggregates in ONE map-side-combined shuffle — never a
      posexplode to (row × dim) scale;
    - each iteration's centroid coordinates round to 6dp, so the
      iteration state (and therefore the whole trajectory) is exactly
      reproducible across engines instead of drifting on float
      summation order.

    A cluster that loses every member simply drops (its mean is
    undefined); k shrinks, matching the SQL group-by semantics.
    Returns the final centroids as (centroidId, clusterSize,
    embedding) — ready to feed :func:`assign_to_centroids` /
    :func:`ivf_topk` as the coarse quantizer.
    """
    v = (
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        .filter(F.size("embedding") == dim)
        .localCheckpoint(eager=False)
    )
    # seed rows are .limit(k) — bounded — so the renumbering window is
    # intentionally single-partition; declared constant key avoids the
    # WindowExec 'No Partition Defined' warning
    w = Window.partitionBy(declared_single_partition(F.col("vec_id"))).orderBy("vec_id")
    centroids = (
        v.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("vec_id"),
            "embedding",
        )
    )
    for _ in range(max(1, n_iter)):
        assigned = assign_to_centroids(
            v, centroids, id_col="vec_id", vec_col="embedding"
        )
        centroids = (
            assigned.filter(F.col("centroidId").isNotNull())
            .groupBy("centroidId")
            .agg(
                F.count(F.lit(1)).alias("clusterSize"),
                *[
                    F.round(F.avg(F.get("vv", i)), 6).alias(f"_c{i}")
                    for i in range(dim)
                ],
            )
            .select(
                F.col("centroidId").alias("vec_id"),
                "clusterSize",
                F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias(
                    "embedding"
                ),
            )
            # truncate the lineage each iteration: without this,
            # iteration i's centroid collect replays assignments
            # 1..i-1 over the corpus and downstream actions replay
            # the whole trajectory again (O(n_iter²) corpus scans)
            .localCheckpoint(eager=False)
        )
    return centroids.select(
        F.col("vec_id").alias("centroidId"), "clusterSize", "embedding"
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 16,
    n_iter: int = 2,
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    hot_bucket_ceiling: "int | None" = 10_000,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster
    the embedding space with k-means, then mark near-duplicate pairs
    only WITHIN each cluster — the quadratic cosine comparison is
    confined to cluster-sized blocks, which is the entire scale trick
    of the published method (corpus² → Σ cluster²).

    Composed from this module's own pieces: :func:`kmeans_lloyd`
    trains the centroids (deterministic, replayable), the corpus
    assigns through the same BLAS kernel, and the within-cluster
    self-join scores exact cosine on 6dp-rounded values. A row is a
    duplicate when some SMALLER-id vector in its cluster has cosine
    >= ``threshold`` — keep-smallest-id, the deterministic keeper
    rule the dedup family uses throughout.

    Returns (vecId, centroidId, isDuplicate, dupOf, maxSim) — dupOf
    is the smallest qualifying keeper id; maxSim is the best
    similarity over ALL qualifying smaller-id pairs (not necessarily
    the similarity to dupOf itself).

    Σ cluster² is only bounded when the clusters are: a degenerate
    embedding corpus (one dominant mode) funnels everything into one
    cluster and the within-cluster join silently goes quadratic over
    the whole corpus. The shared hot-bucket guard (functions/
    guards.py) bounds that with ``centroidId`` as the bucket key:
    a cluster over ``hot_bucket_ceiling`` members aborts loudly
    (``on_hot_bucket="raise"``, default — bit-identical output when
    nothing is hot) or is excluded from PAIRING only (``"cap"`` —
    its members still appear in the output, marked non-duplicate).
    The ceiling therefore also encodes the method's own scale
    contract: pick ``k`` so expected cluster size stays under it
    (SemDeDup at web scale runs k in the tens of thousands).
    ``None`` disables.
    """
    centroids = kmeans_lloyd(
        vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, dim=dim
    ).select(
        # rename to the CALLER's column names — ivf_members resolves
        # both tables through (id_col, vec_col)
        F.col("centroidId").alias(id_col),
        F.col("embedding").alias(vec_col),
    )
    # checkpoint the assignment: members feeds FIVE consumers (guard
    # counts, guard semi probe, both pairing sides, and the final
    # output join) — each would otherwise re-run the BLAS
    # nearest-centroid kernel over the whole corpus
    members = ivf_members(
        vectors, centroids, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    # guard the PAIRING input only: in cap mode a hot cluster's
    # members are excluded from the self-join but still flow through
    # the final left join below, so every vector stays in the output
    pairable = guard_hot_buckets(
        members,
        ["centroidId"],
        hot_bucket_ceiling,
        on_hot_bucket,
        "semantic_dedup",
    )
    # Within-cluster scoring runs as ONE grouped BLAS kernel instead
    # of the bucket self-join + interpreted zip_with dot fold it
    # replaced (r14; guide §2.3/§4.2): the join form shuffled the
    # member rows twice and evaluated the O(dim) fold per candidate
    # PAIR (Σ cluster² interpreted evaluations); the kernel ships each
    # member once on the same centroidId exchange and scores a whole
    # cluster with matmul, emitting only the per-row (dupOf, maxSim)
    # aggregate — the m² pair rows never exist as Spark rows. Same
    # contract: sims 6dp half-away rounded BEFORE the threshold (the
    # F.round tie direction), dupOf = smallest qualifying smaller id,
    # maxSim = max rounded sim over qualifying pairs. Assignment gives
    # invalid/zero-norm vectors a NULL centroidId, which the old equi
    # self-join dropped; the kernel input filters them identically.
    best = _within_cluster_best(
        pairable.filter(F.col("centroidId").isNotNull()), threshold
    )
    return (
        members.select(F.col("vid").alias("vecId"), "centroidId")
        .join(best, on="vecId", how="left")
        .select(
            "vecId",
            "centroidId",
            F.col("dupOf").isNotNull().alias("isDuplicate"),
            "dupOf",
            "maxSim",
        )
    )


def _within_cluster_best(pairable: DataFrame, threshold: float) -> DataFrame:
    """Grouped BLAS kernel behind :func:`semantic_dedup`: for every
    cluster member, the smallest smaller-id member with 6dp-rounded
    cosine >= ``threshold`` (``dupOf``) and the max qualifying rounded
    sim (``maxSim``). Input must carry (vid, vv, vnorm, centroidId)
    with non-null centroidId (assignment already validated dim and
    norm for those rows). Emits only rows that HAVE a qualifying pair;
    the caller left-joins everyone else back as non-duplicates.

    Blockwise (block × m) matmul bounds kernel memory by
    ``_SEM_BLOCK_CELLS`` sim cells regardless of cluster size (the
    hot-bucket ceiling bounds m itself)."""
    import numpy as np
    import pandas as pd

    vid_type = pairable.schema["vid"].dataType.simpleString()
    out_schema = f"vecId {vid_type}, dupOf {vid_type}, maxSim double"
    empty = pd.DataFrame({"vecId": [], "dupOf": [], "maxSim": []})

    def _best(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        ids = pdf["vid"].to_numpy()[order]
        mat = np.array(pdf["vv"].to_numpy()[order].tolist(), dtype=np.float64)
        nrm = pdf["vnorm"].to_numpy()[order].astype(np.float64)
        # strictly-smaller-id bound per row (handles duplicate ids the
        # way the old join's otherId < vecId did: equals never pair)
        lo = np.searchsorted(ids, ids, side="left")
        col = np.arange(m)
        bs = max(1, min(4096, 8_000_000 // m))
        out_id, out_dup, out_sim = [], [], []
        for i0 in range(0, m, bs):
            i1 = min(i0 + bs, m)
            sims = _round_half_away(
                (mat[i0:i1] @ mat.T) / np.outer(nrm[i0:i1], nrm)
            )
            qual = (sims >= threshold) & (col[None, :] < lo[i0:i1, None])
            has = qual.any(axis=1)
            if not has.any():
                continue
            rows = np.nonzero(has)[0]
            first = qual[rows].argmax(axis=1)  # ids ascending => min id
            best_sim = np.where(qual[rows], sims[rows], -np.inf).max(axis=1)
            out_id.append(ids[i0:i1][rows])
            out_dup.append(ids[first])
            out_sim.append(best_sim)
        if not out_id:
            return empty
        return pd.DataFrame(
            {
                "vecId": np.concatenate(out_id),
                "dupOf": np.concatenate(out_dup),
                "maxSim": np.concatenate(out_sim),
            }
        )

    _best.__annotations__ = {"pdf": pd.DataFrame, "return": pd.DataFrame}
    return (
        pairable.select("vid", "vv", "vnorm", "centroidId")
        .groupBy("centroidId")
        .applyInPandas(_best, out_schema)
    )


def truncate_embeddings(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension truncation (Kusupati et al. 2022):
    keep the first ``dims`` coordinates of each embedding — the MRL
    convention where prefixes of the vector are themselves valid
    lower-capacity embeddings — so downstream cosine ranking runs at
    dims/d of the full cost. The truncated vector is returned UN-
    normalized; cosine similarity is scale-invariant, so re-ranking
    through :func:`cosine_topk` needs no renorm pass, and callers that
    want unit vectors can compose with their own scaling.

    Shuffle-free projection; vectors shorter than ``dims`` pass
    through whole (slice caps at length), null vectors stay null.

    Emits (id_col, vec_col) with the same column names, so the result
    drops into any consumer of the original table.
    """
    return df.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )


def mrl_funnel_topk(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist_dims: int,
    shortlist_k: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage Matryoshka retrieval funnel (the pattern MRL
    truncation exists for): stage 1 shortlists ``shortlist_k``
    candidates per query by cosine over the first ``shortlist_dims``
    coordinates (:func:`cosine_topk`'s BLAS scan at dims/d of the
    dot-product work), stage 2 re-ranks ONLY the shortlist by
    full-dimension exact cosine. At corpus scale stage 1 is the only
    pass that touches every vector; stage 2
    joins the (|Q| x shortlist_k)-row shortlist back to the corpus on
    the id key — broadcast-sized by construction.

    Emits (queryId, neighborId, cosineSim, rank <= k) where cosineSim
    is the FULL-dimension similarity; ranking windows use the rounded
    score with an id tiebreak, engine-reproducible.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    shortlist = cosine_topk(
        truncate_embeddings(corpus, shortlist_dims, id_col, vec_col),
        truncate_embeddings(queries, shortlist_dims, id_col, vec_col),
        k=shortlist_k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("queryId", "neighborId")
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("neighborId"), F.col(vec_col).alias("cvec")
        ),
        on="neighborId",
    ).join(
        F.broadcast(
            queries.select(
                F.col(id_col).alias("queryId"), F.col(vec_col).alias("qvec")
            )
        ),
        on="queryId",
    )
    scored = cand.select(
        "queryId",
        "neighborId",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosineSim"),
    )
    w = Window.partitionBy("queryId").orderBy(
        F.col("cosineSim").desc(), F.col("neighborId").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def binary_signatures(
    df: DataFrame,
    num_planes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-bit binary embedding: each vector compressed to a
    ``num_planes``-bit integer of hyperplane projection signs — the
    32x-and-beyond compression tier below SQ8, with the Goemans-
    Williamson guarantee that Hamming distance between signatures
    estimates angular distance. Planes are the same md5-derived family
    every LSH operator here uses (one projection rule, one oracle
    spelling). Shuffle-free projection.

    Emits (vid, signature) — int for <=31 planes, bigint above.
    """
    return df.select(
        F.col(id_col).alias("vid"),
        _sign_bit_fold(F.col(vec_col), num_planes, dim).alias("signature"),
    )


def hamming_topk(
    corpus_sigs: DataFrame,
    query_sigs: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Brute-force Hamming top-k over binary signatures: per query,
    the ``k`` nearest signatures by bit_count(xor) — one integer op
    per candidate, the cheapest whole-corpus scan of the retrieval
    funnel (re-rank survivors with SQ8 or exact cosine). Queries
    broadcast; ranking windows per query on (distance asc, id asc),
    engine-reproducible. Self-pairs excluded.

    Emits (queryId, neighborId, hammingDist, rank <= k).
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    q = query_sigs.select(
        F.col("vid").alias("queryId"), F.col("signature").alias("qsig")
    )
    scored = corpus_sigs.join(
        F.broadcast(q), F.col("vid") != F.col("queryId"), "inner"
    ).select(
        "queryId",
        F.col("vid").alias("neighborId"),
        F.bit_count(
            F.col("signature").cast("bigint").bitwiseXOR(
                F.col("qsig").cast("bigint")
            )
        )
        .cast("int")
        .alias("hammingDist"),
    )
    w = Window.partitionBy("queryId").orderBy(
        F.col("hammingDist").asc(), F.col("neighborId").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def choose_nprobe(
    corpus: DataFrame,
    centroids: DataFrame,
    target_recall: float = 0.9,
    k: int = 10,
    n_queries: int = 50,
    max_nprobe: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    members: DataFrame | None = None,
) -> "tuple[int, list[dict]]":
    """FAISS-style nprobe auto-tuner: the smallest ``nprobe`` whose
    measured recall@k on a sampled ground truth meets
    ``target_recall`` — the knob a user otherwise hand-probes with
    tools/ann_recall_probe.py (VERDICT r5 task #8).

    Method: a deterministic hash-spread sample of ~``n_queries``
    corpus vectors becomes the query set; exact cosine on that sample
    (the BLAS kernel :func:`cosine_topk`) is the ground truth — one
    corpus scan, the same trade FAISS makes training on a sample; then
    :func:`ivf_topk` recall is measured at doubling nprobe values
    (1, 2, 4, ...) until the target is met or ``max_nprobe``
    (default: the centroid count) is reached. The inverted lists are
    built ONCE via :func:`ivf_members` and reused across probes, so
    each step costs one sampled search, not a corpus re-assignment.

    This is a driver-side tuning loop that RUNS Spark jobs (like the
    codebook collects, documented trade) — call it once per index
    build, not per query.

    Returns ``(nprobe, curve)`` where curve is
    ``[{"nprobe": int, "recall_at_k": float}, ...]`` for every probed
    value; if even ``max_nprobe`` misses the target, the largest
    probed value is returned (its recall is in the curve — loud in
    the artifact rather than an exception, matching how a user would
    then either raise k_centroids or accept the recall).
    """
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1]: {target_recall}")
    n_corpus = corpus.count()
    if n_corpus == 0:
        raise ValueError("choose_nprobe: empty corpus")
    rate = max(1, n_corpus // max(1, n_queries))
    queries = corpus.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(rate)) == 0
    ).localCheckpoint(eager=False)
    # BLAS ground truth (r13): the tuning cost is one corpus scan,
    # not a corpus×sample pair join
    truth = (
        cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
        .select("queryId", "neighborId")
        .localCheckpoint(eager=False)
    )
    n_truth = truth.count()
    if n_truth == 0:
        raise ValueError(
            "choose_nprobe: ground truth is empty (corpus smaller than 2?)"
        )
    if members is None:
        members = ivf_members(corpus, centroids, id_col, vec_col)
    members = members.localCheckpoint(eager=False)
    cap = max_nprobe or centroids.count()
    curve: list[dict] = []
    nprobe = 1
    while True:
        approx = ivf_topk(
            corpus,
            queries,
            centroids,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            nprobe=nprobe,
            members=members,
        ).select("queryId", "neighborId")
        hits = approx.join(truth, on=["queryId", "neighborId"], how="inner").count()
        recall = hits / n_truth
        curve.append({"nprobe": nprobe, "recall_at_k": round(recall, 4)})
        if recall >= target_recall or nprobe >= cap:
            return nprobe, curve
        nprobe = min(nprobe * 2, cap)
