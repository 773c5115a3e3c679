"""Product quantization (PQ) for embedding compression + ADC search.

The 100 TB story for vector search is memory, not FLOPs: a 100 TB
corpus of 64-dim float32 embeddings is ~400 GB per billion vectors,
but its PQ codes at m=4 subspaces × 256 codes are 4 bytes/vector —
100× smaller, small enough that the entire index rides in executor
memory and the ANN scan never touches the raw vectors again
(Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
Neighbor Search"; the same layout FAISS's IVF-PQ uses).

Spark-first decomposition:

- **train** (:func:`train_pq_codebooks`): m independent k-means
  problems over disjoint coordinate slices — reuses
  :func:`~genetics_spark_coloc_spark.operators.similarity.kmeans_lloyd`
  per subspace, so training inherits its determinism (smallest-id
  init, 6dp-rounded iteration state, one map-side-combined shuffle
  per update). PQ training classically runs on a corpus *sample*
  (FAISS trains on ~100k vectors regardless of corpus size); pass a
  sampled DataFrame for that.
- **encode** (:func:`pq_encode`): the codebook is tiny (m×k rows) and
  rides the task closure; each Arrow batch scores every subspace
  against its k centroids as one (n×sub_dim)@(sub_dim×k) BLAS
  product — no join, no shuffle, the corpus is read once and written
  once as (id, codes). This is the table you persist.
- **search** (:func:`pq_adc_topk`): asymmetric distance computation —
  per query, an m×k lookup table of exact subspace distances to every
  centroid; a corpus vector's approximate distance is m table
  gathers + a sum, never a vector op. The kernel emits only the
  per-batch top-k per query, so the final exact ranking shuffles
  k·batches·|Q| rows, not corpus×|Q|.

Cross-engine reproducibility (the repo-wide oracle contract): all
distances are squared-L2 computed by the expanded form
``‖x‖² − 2·x·c + ‖c‖²`` in float64, rounded half-away at 6dp before
any argmin/ranking, ties broken toward the smaller code / neighbor
id — the same device ``assign_to_centroids`` pins with a parity test.

Reference parity note: the reference repo (gentropy) has no vector
search; this module is part of the additive LLM-data-pipeline layer
(SURVEY.md §2 additions), sharing its determinism idioms with
operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from genetics_spark_coloc_spark.functions.reshape import declared_single_partition

from genetics_spark_coloc_spark.operators.similarity import (
    _argbest_rounded,
    _round_half_away,
    _valid_rows,
    kmeans_lloyd,
)


def codebooks_from_first_k(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Deterministic reduced-config codebook: centroid (s, j) is the
    s-th coordinate slice of the j-th smallest-id vector. Not a
    trained quantizer — it exists so encode/search have an exact
    cross-engine oracle (the same trick the reduced-config SuSiE /
    CARMA oracles use); production paths call
    :func:`train_pq_codebooks`. Output: (subspace, code, centroid)."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    # input is .limit(k) — at most k rows — so a single-partition
    # window is the intended plan; declare the partition explicitly
    # (constant key) so WindowExec does not warn 'No Partition Defined'
    w = Window.partitionBy(declared_single_partition(F.col(id_col))).orderBy(id_col)
    first = (
        vectors.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .filter(F.size("v") == dim)
        .orderBy(id_col)
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("code"), "v")
    )
    return first.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice("v", s * sub + 1, sub).alias("centroid"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_s"),
    ).select(F.col("_s.subspace").alias("subspace"), "code", "_s.centroid")


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Train PQ codebooks: m independent Lloyd k-means runs, one per
    coordinate slice, each inheriting kmeans_lloyd's deterministic
    init and 6dp-rounded iteration state. The m trainings are
    independent Spark jobs over the same (cached) input — pass a
    corpus SAMPLE as ``vectors`` at scale, as FAISS does. A subspace
    cluster that empties drops from that subspace's codebook (k may
    shrink per subspace, matching kmeans_lloyd semantics).
    Output: (subspace, code, centroid, clusterSize)."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).filter(F.size("v") == dim)
    v = v.localCheckpoint(eager=False)
    parts = []
    for s in range(m):
        sliced = v.select("vec_id", F.slice("v", s * sub + 1, sub).alias("sv"))
        cent = kmeans_lloyd(
            sliced, k=k, n_iter=n_iter, id_col="vec_id", vec_col="sv", dim=sub
        )
        parts.append(
            cent.select(
                F.lit(s).alias("subspace"),
                F.col("centroidId").alias("code"),
                F.col("embedding").alias("centroid"),
                "clusterSize",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _collect_pq_codebooks(codebooks: DataFrame):
    """Collect the (tiny, m×k-row) codebook table once at plan-build
    time — same documented trade as ``_collect_centroid_matrix``.
    Returns (codes, mats): per subspace s, ``codes[s]`` the ascending
    code ids and ``mats[s]`` the (k_s × sub_dim) float64 centroid
    matrix. Validates contiguous subspaces 0..m-1 and one common
    sub_dim."""
    import numpy as np

    rows = codebooks.select("subspace", "code", "centroid").collect()
    if not rows:
        raise ValueError("pq: codebooks table is empty")
    by_s: dict[int, list] = {}
    sub_dim = None
    for r in rows:
        if r["centroid"] is None:
            raise ValueError("pq: codebook row with null centroid")
        if sub_dim is None:
            sub_dim = len(r["centroid"])
        elif len(r["centroid"]) != sub_dim:
            raise ValueError(
                f"pq: mixed centroid lengths {len(r['centroid'])} vs {sub_dim}"
            )
        by_s.setdefault(int(r["subspace"]), []).append(
            (int(r["code"]), list(r["centroid"]))
        )
    m = len(by_s)
    if sorted(by_s) != list(range(m)):
        raise ValueError(f"pq: subspaces must be contiguous 0..m-1, got {sorted(by_s)}")
    codes, mats = [], []
    for s in range(m):
        entries = sorted(by_s[s], key=lambda e: e[0])
        if len({c for c, _ in entries}) != len(entries):
            raise ValueError(f"pq: duplicate code in subspace {s}")
        codes.append(np.array([c for c, _ in entries], dtype=np.int64))
        mats.append(np.array([v for _, v in entries], dtype=np.float64))
    return codes, mats


def _sq_dist(x, cmat):
    """Squared L2 between rows of x (n×d) and rows of cmat (k×d), by
    the expanded form ‖x‖² − 2·x·c + ‖c‖² — the exact float64 formula
    the DuckDB oracles mirror with list_inner_product."""
    import numpy as np

    xx = np.einsum("ij,ij->i", x, x)
    cc = np.einsum("ij,ij->i", cmat, cmat)
    return xx[:, None] - 2.0 * (x @ cmat.T) + cc[None, :]


def _sq_dist_rounded(x, cmat):
    """6dp-rounded :func:`_sq_dist` — for the small ADC lookup tables
    whose rounded VALUES feed the distance sums; the encode hot path
    ranks via _argbest_rounded instead of rounding the full matrix."""
    return _round_half_away(_sq_dist(x, cmat))


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-subspace-centroid codes:
    one Arrow batch → m BLAS products, each (n×sub_dim)@(sub_dim×k_s);
    argmin on the 6dp-rounded squared distance, ties toward the
    smaller code. No shuffle — the scan writes (vid, codes) straight
    back out; persist THAT as the search-time index. Rows whose
    vector is null / wrong length get null codes (the standard
    null-propagation contract). Output: (vid, codes array<int>)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    codes_by_s, mats = _collect_pq_codebooks(codebooks)
    m = len(mats)
    sub = mats[0].shape[1]
    dim = m * sub

    def _encode(vecs):
        vals = vecs.tolist()
        out = [None] * len(vals)
        ok = _valid_rows(vals, dim)
        if ok:
            x = np.array([vals[i] for i in ok], dtype=np.float64)
            picked = np.empty((len(ok), m), dtype=np.int64)
            for s in range(m):
                d2 = _sq_dist(x[:, s * sub : (s + 1) * sub], mats[s])
                # argmin of the ROUNDED distances (first min; codes
                # ascending => ties toward the smaller code) without
                # paying full-matrix rounding — see _argbest_rounded
                picked[:, s] = codes_by_s[s][
                    _argbest_rounded(d2, largest=False)
                ]
            for j, i in enumerate(ok):
                out[i] = [int(c) for c in picked[j]]
        return pd.Series(out, dtype=object)

    _encode.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    kernel = pandas_udf(_encode, "array<int>")
    return vectors.select(
        F.col(id_col).alias("vid"), kernel(F.col(vec_col)).alias("codes")
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query an m×k_s
    table of 6dp-rounded exact subspace distances to every centroid;
    a candidate's distance is m integer gathers + a sum (re-rounded
    at 6dp). The query set is collected at plan-build time (it is the
    small side by contract — same documented trade as the IVF
    centroid collect); the corpus side streams through one
    mapInPandas pass that emits only the per-batch top-k per query
    ordered by (adcDist asc, vid asc) — a correct prefix of the final
    total order — so the closing exact rank shuffles
    O(k·batches·|Q|) rows, never corpus×|Q|. The query vector itself
    (vid == queryId) is excluded, matching ivf_topk.
    Output: (queryId, neighborId, adcDist, rank ≤ k)."""
    import numpy as np
    import pandas as pd

    codes_by_s, mats = _collect_pq_codebooks(codebooks)
    m = len(mats)
    sub = mats[0].shape[1]
    dim = m * sub
    k_per_s = [mat.shape[0] for mat in mats]
    for s in range(m):
        # ADC gathers by POSITION: require code ids to be the dense
        # range 0..k_s-1 (true for both codebook builders here)
        if not (codes_by_s[s] == np.arange(k_per_s[s])).all():
            raise ValueError(
                f"pq_adc_topk: subspace {s} codes are not dense 0..k-1"
            )

    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).collect()
    qrows = [r for r in qrows if r["qv"] is not None and len(r["qv"]) == dim]
    qid_type = queries.schema[id_col].dataType.simpleString()
    vid_type = encoded.schema["vid"].dataType.simpleString()
    out_schema = f"queryId {qid_type}, neighborId {vid_type}, adcDist double"
    if not qrows:
        return encoded.limit(0).select(
            F.col("vid").cast(qid_type).alias("queryId"),
            F.col("vid").alias("neighborId"),
            F.lit(None).cast("double").alias("adcDist"),
            F.lit(None).cast("int").alias("rank"),
        )
    qrows.sort(key=lambda r: r["qid"])
    qids = [r["qid"] for r in qrows]
    qmat = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    # per query, per subspace: distance table to every centroid
    tables = [
        _sq_dist_rounded(qmat[:, s * sub : (s + 1) * sub], mats[s]) for s in range(m)
    ]  # tables[s] is (|Q| × k_s)
    n_q = len(qids)

    def _scan(batches):
        for pdf in batches:
            vids = pdf["vid"].to_numpy()
            vals = pdf["codes"].tolist()
            ok = [
                i
                for i, c in enumerate(vals)
                if c is not None
                and len(c) == m
                and all(
                    cs is not None and 0 <= cs < k_per_s[s]
                    for s, cs in enumerate(c)
                )
            ]
            if not ok:
                continue
            codes = np.array([vals[i] for i in ok], dtype=np.int64)
            bvids = vids[ok]
            chunks = []
            for qi in range(n_q):
                adc = np.zeros(len(ok), dtype=np.float64)
                for s in range(m):
                    adc += tables[s][qi][codes[:, s]]
                adc = _round_half_away(adc)
                keep = bvids != qids[qi]
                if not keep.any():
                    continue
                a, v = adc[keep], bvids[keep]
                order = np.lexsort((v, a))[:k]
                chunks.append(
                    pd.DataFrame(
                        {
                            "queryId": [qids[qi]] * len(order),
                            "neighborId": v[order],
                            "adcDist": a[order],
                        }
                    )
                )
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    pruned = encoded.mapInPandas(_scan, out_schema)
    w = Window.partitionBy("queryId").orderBy(
        F.col("adcDist").asc(), F.col("neighborId").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("queryId", "neighborId", "adcDist", "rank")
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF-PQ index — the FAISS coarse+fine layout: each
    vector is assigned to its nearest coarse centroid by squared L2
    (6dp-rounded, ties toward the smaller centroid id), and the
    RESIDUAL x − c is PQ-encoded. Storing residual codes instead of
    raw-vector codes is what makes the fine quantizer accurate: the
    residual distribution is centered and tight, so k codes cover it
    far better than they cover the raw space (Jégou et al. 2011 §III).

    One mapInPandas pass does both steps per Arrow batch — coarse
    assignment is one (n×dim)@(dim×k) product, each subspace encode
    one more — so the corpus is scanned once, shuffled never. Persist
    the output partitioned/bucketed by ``centroidId``: that makes
    every later search a pruned scan of nprobe buckets.

    Output: (vid, centroidId, codes array<int>). Invalid vectors
    (null / wrong dim) keep a row with null centroidId + codes.
    """
    import numpy as np
    import pandas as pd

    from genetics_spark_coloc_spark.operators.similarity import (
        _collect_centroid_matrix,
    )

    cids, cmat, _cnorm, id_sql_type = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    cid_arr = np.array(cids)
    codes_by_s, mats = _collect_pq_codebooks(codebooks)
    m = len(mats)
    sub = mats[0].shape[1]
    dim = m * sub
    if cmat.shape[1] != dim:
        raise ValueError(
            f"ivfpq_index: centroid dim {cmat.shape[1]} != m*sub_dim {dim}"
        )
    vid_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vid {vid_type}, centroidId {id_sql_type}, codes array<int>"
    )

    def _build(batches):
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            vids = pdf[id_col].to_numpy()
            cent_out = [None] * len(vals)
            codes_out = [None] * len(vals)
            ok = _valid_rows(vals, dim)
            if ok:
                x = np.array([vals[i] for i in ok], dtype=np.float64)
                d2c = _sq_dist(x, cmat)
                cidx = _argbest_rounded(d2c, largest=False)
                resid = x - cmat[cidx]
                picked = np.empty((len(ok), m), dtype=np.int64)
                for s in range(m):
                    d2 = _sq_dist(resid[:, s * sub : (s + 1) * sub], mats[s])
                    picked[:, s] = codes_by_s[s][
                        _argbest_rounded(d2, largest=False)
                    ]
                for j, i in enumerate(ok):
                    cent_out[i] = cid_arr[cidx[j]].item()
                    codes_out[i] = [int(c) for c in picked[j]]
            yield pd.DataFrame(
                {
                    "vid": vids,
                    "centroidId": pd.Series(cent_out, dtype=object),
                    "codes": pd.Series(codes_out, dtype=object),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(_build, out_schema)


def ivfpq_topk(
    index: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: per query, probe the ``nprobe`` nearest coarse
    centroids (squared L2, 6dp-rounded, smaller-id ties); for EACH
    probed centroid build the ADC table from the query's residual
    against THAT centroid (the residual changes per probe — the
    subtlety that distinguishes IVF-PQ from flat PQ); candidates are
    the probed lists' code rows, distance = m gathers + sum, both
    per-cell and final sums 6dp-rounded. The scan emits only the
    per-batch top-k per query; a closing window ranks exactly.

    ``index`` is an :func:`ivfpq_index` result — when it is persisted
    bucketed by centroidId, the kernel's per-probe mask becomes
    partition pruning at rest. Self-matches (vid == queryId) are
    excluded. Output: (queryId, centroidId, neighborId, adcDist,
    rank ≤ k).
    """
    import numpy as np
    import pandas as pd

    from genetics_spark_coloc_spark.operators.similarity import (
        _collect_centroid_matrix,
    )

    cids, cmat, _cnorm, _t = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    cid_arr = np.array(cids)
    codes_by_s, mats = _collect_pq_codebooks(codebooks)
    m = len(mats)
    sub = mats[0].shape[1]
    dim = m * sub
    k_per_s = [mat.shape[0] for mat in mats]
    for s in range(m):
        if not (codes_by_s[s] == np.arange(k_per_s[s])).all():
            raise ValueError(
                f"ivfpq_topk: subspace {s} codes are not dense 0..k-1"
            )
    nprobe = min(nprobe, len(cids))

    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    qrows = [r for r in qrows if r["qv"] is not None and len(r["qv"]) == dim]
    qid_type = queries.schema[id_col].dataType.simpleString()
    cent_type = index.schema["centroidId"].dataType.simpleString()
    vid_type = index.schema["vid"].dataType.simpleString()
    out_schema = (
        f"queryId {qid_type}, centroidId {cent_type}, "
        f"neighborId {vid_type}, adcDist double"
    )
    if not qrows:
        return index.limit(0).select(
            F.col("vid").cast(qid_type).alias("queryId"),
            F.col("centroidId"),
            F.col("vid").alias("neighborId"),
            F.lit(None).cast("double").alias("adcDist"),
            F.lit(None).cast("int").alias("rank"),
        )
    qrows.sort(key=lambda r: r["qid"])
    qids = [r["qid"] for r in qrows]
    qmat = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    # per query: the nprobe nearest centroid POSITIONS by rounded d2,
    # ties toward the smaller centroid id (positions are id-ascending)
    d2q = _round_half_away(_sq_dist(qmat, cmat))
    probe_pos = np.argsort(d2q, axis=1, kind="stable")[:, :nprobe]
    # tables[(qi, pos)] = per-subspace rounded distance tables of the
    # query's residual against the PROBED centroid
    tables: dict[tuple, list] = {}
    for qi in range(len(qids)):
        for p in probe_pos[qi]:
            r = (qmat[qi] - cmat[p])[None, :]
            tables[(qi, int(p))] = [
                _sq_dist_rounded(r[:, s * sub : (s + 1) * sub], mats[s])[0]
                for s in range(m)
            ]
    # keep the centroid id's NATIVE type as the key (long ids stay
    # ints, string ids stay strings) — int() would crash non-numeric
    # centroid ids at plan build
    pos_by_cid = {cid_arr[p].item(): int(p) for p in range(len(cids))}
    # static probed-list pruning: the union of probed centroids is
    # known at PLAN time (queries are collected above), so the scan
    # is filtered to exactly those lists BEFORE the kernel — on an
    # index persisted partitionBy(centroidId) (the ivfpq_index step's
    # layout) this is partition pruning at the parquet source: each
    # search reads its probed list directories, never the corpus
    # (plan-pinned in tests/test_plan_quality.py). A pure prune: the
    # kernel only ever emits rows from probed lists anyway.
    probed_cids = sorted(
        {cid_arr[int(p)].item() for row in probe_pos for p in row}
    )
    index = index.filter(F.col("centroidId").isin(probed_cids))

    def _scan(batches):
        for pdf in batches:
            vids = pdf["vid"].to_numpy()
            cents = pdf["centroidId"].to_numpy()
            vals = pdf["codes"].tolist()
            # validate + bucket the batch ONCE, not once per
            # (query, probe): a per-pair Python re-scan of the whole
            # batch is O(batch·|Q|·nprobe) interpreter work; bucketed
            # rows make each probe a direct inverted-list slice
            ok = [
                i
                for i, c in enumerate(vals)
                if c is not None
                and len(c) == m
                and all(
                    cs is not None and 0 <= cs < k_per_s[s]
                    for s, cs in enumerate(c)
                )
            ]
            if not ok:
                continue
            codes_all = np.array([vals[i] for i in ok], dtype=np.int64)
            vid_all = vids[ok]
            cent_all = cents[ok]
            rows_by_pos: dict = {}
            for cid, pos in pos_by_cid.items():
                mask = np.flatnonzero(cent_all == cid)
                if mask.size:
                    rows_by_pos[pos] = mask
            chunks = []
            for qi in range(len(qids)):
                for p in probe_pos[qi]:
                    rows = rows_by_pos.get(int(p))
                    if rows is None:
                        continue
                    v = vid_all[rows]
                    keep = v != qids[qi]
                    if not keep.any():
                        continue
                    sel = rows[keep]
                    v = v[keep]
                    codes = codes_all[sel]
                    t = tables[(qi, int(p))]
                    adc = np.zeros(len(sel), dtype=np.float64)
                    for s in range(m):
                        adc += t[s][codes[:, s]]
                    adc = _round_half_away(adc)
                    order = np.lexsort((v, adc))[:k]
                    chunks.append(
                        pd.DataFrame(
                            {
                                "queryId": [qids[qi]] * len(order),
                                "centroidId": [cid_arr[p].item()] * len(order),
                                "neighborId": v[order],
                                "adcDist": adc[order],
                            }
                        )
                    )
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    pruned = index.mapInPandas(_scan, out_schema)
    w = Window.partitionBy("queryId").orderBy(
        F.col("adcDist").asc(), F.col("neighborId").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("queryId", "centroidId", "neighborId", "adcDist", "rank")
    )


def load_ivfpq_index(spark, path: str):
    """Load a persisted IVF-PQ index (written by the ``ivfpq_index``
    step): returns ``(index, centroids, codebooks, meta)`` — the
    partitioned residual-code lists, the BUILD-TIME coarse centroids
    and PQ codebooks shipped inside the index (under ``_centroids`` /
    ``_codebooks``, invisible to parquet readers of the root), and
    the contract dict ``{id_col, vec_col, n_centroids, m, sub_dim}``.

    Always search with the returned centroids AND codebooks: the
    codes are residuals against *these* centroids quantized by
    *these* codebooks — probing with foreign ones decodes distances
    against tables the codes were never written in and silently
    returns wrong neighbours (the IVF-PQ twin of the IVF centroid
    identity and the LSH band-parameter identity).

        index, cents, cbs, meta = load_ivfpq_index(spark, path)
        ivfpq_topk(index, cents, cbs, queries,
                   id_col=meta["id_col"], vec_col=meta["vec_col"])
    """
    import json
    import os

    from genetics_spark_coloc_spark.session import hadoop_read_text

    meta_path = os.path.join(path, "_ivfpq_meta.json")
    try:
        meta = json.loads(hadoop_read_text(spark, meta_path))
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"load_ivfpq_index: {meta_path} missing — not an ivfpq_index "
            "step output? Load the codes parquet directly and supply the "
            "build-time centroids and codebooks yourself."
        ) from exc
    index = spark.read.parquet(path)
    centroids = spark.read.parquet(os.path.join(path, "_centroids"))
    codebooks = spark.read.parquet(os.path.join(path, "_codebooks"))
    return index, centroids, codebooks, meta


def ivfpq_residuals(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual vectors for IVF-PQ TRAINING: each vector's offset
    from its nearest coarse centroid (squared-L2 assignment,
    6dp-rounded, smaller-id ties — identical to ivfpq_index). FAISS
    trains the fine quantizer on exactly these residuals, not raw
    vectors, because the residual distribution is what the PQ
    codebook must cover; compose with
    ``train_pq_codebooks(ivfpq_residuals(sample, cents),
    vec_col="residual")`` on a corpus SAMPLE and feed the result to
    :func:`ivfpq_index` / :func:`ivfpq_topk`.

    One mapInPandas pass: coarse assignment is one BLAS product per
    Arrow batch; no shuffle. Output: (vid, centroidId, residual
    array<double>); invalid vectors keep a row with nulls.
    """
    import numpy as np
    import pandas as pd

    from genetics_spark_coloc_spark.operators.similarity import (
        _collect_centroid_matrix,
    )

    cids, cmat, _cnorm, id_sql_type = _collect_centroid_matrix(
        centroids, id_col, vec_col
    )
    cid_arr = np.array(cids)
    dim = cmat.shape[1]
    vid_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vid {vid_type}, centroidId {id_sql_type}, residual array<double>"
    )

    def _resid(batches):
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            vids = pdf[id_col].to_numpy()
            cent_out = [None] * len(vals)
            res_out = [None] * len(vals)
            ok = _valid_rows(vals, dim)
            if ok:
                x = np.array([vals[i] for i in ok], dtype=np.float64)
                cidx = _argbest_rounded(_sq_dist(x, cmat), largest=False)
                resid = x - cmat[cidx]
                for j, i in enumerate(ok):
                    cent_out[i] = cid_arr[cidx[j]].item()
                    res_out[i] = [float(v) for v in resid[j]]
            yield pd.DataFrame(
                {
                    "vid": vids,
                    "centroidId": pd.Series(cent_out, dtype=object),
                    "residual": pd.Series(res_out, dtype=object),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(_resid, out_schema)


def exact_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k per query — the brute-force ground
    truth the ``ivfpq_index mode=certify`` step scores recall against
    (IVF-PQ's ADC metric is L2, so its exact counterpart is this, not
    cosine), and the registry's ``l2_topk``. The L2 counterpart of
    ``similarity.cosine_topk``: distances 6dp half-away rounded
    before ranking, ties toward the smaller neighborId, self-matches
    and null or wrong-dimension vectors excluded. Output: (queryId,
    neighborId, l2Dist, rank).

    Queries collect to a driver matrix, each Arrow batch is one
    expanded-form distance product (``_sq_dist``), only the per-batch
    top-k per query is emitted (the pq_adc_topk device), and a
    closing window ranks exactly."""
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
    out_schema = f"queryId {qid_type}, neighborId {vid_type}, l2Dist double"
    src = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vv"),
    )
    if not qrows:
        return src.limit(0).select(
            F.col("vid").cast(qid_type).alias("queryId"),
            F.col("vid").alias("neighborId"),
            F.lit(None).cast("double").alias("l2Dist"),
            F.lit(None).cast("int").alias("rank"),
        )
    qrows.sort(key=lambda r: r["qid"])
    qids = [r["qid"] for r in qrows]
    qmat = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
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
            dists = _sq_dist_rounded(mat, qmat)  # (batch × |Q|)
            chunks = []
            for qi in range(n_q):
                keep = bvids != qids[qi]
                if not keep.any():
                    continue
                d, v = dists[keep, qi], bvids[keep]
                order = np.lexsort((v, d))[:k]
                chunks.append(
                    pd.DataFrame(
                        {
                            "queryId": [qids[qi]] * len(order),
                            "neighborId": v[order],
                            "l2Dist": d[order],
                        }
                    )
                )
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    pruned = src.mapInPandas(_scan, out_schema)
    w = Window.partitionBy("queryId").orderBy(
        F.col("l2Dist").asc(), F.col("neighborId").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("queryId", "neighborId", "l2Dist", "rank")
    )


def sq8_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the SQ8 index of
    FAISS/Milvus — 4x smaller than float32 at rest, the cheapest
    compression tier below PQ): scale = max|v| / 127, code_i =
    floor(v_i / scale + 0.5). |v_i| <= max|v| pins codes to
    [-127, 127] with no clamp, and floor(x + 0.5) is the same
    deterministic round-half-up in every engine (unlike banker's
    rounding). All-zero vectors encode as scale 0 with all-zero
    codes.

    Pure array Column expressions inside whole-stage codegen — no
    explode, no shuffle, no UDF; at 100 TB this is a projection that
    rides whatever scan produces the vectors.

    Emits (vid, dim, scale, codes array<int>); null vectors keep a
    row with null scale/codes.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = maxabs / F.lit(127.0)
    codes = F.when(
        maxabs > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col).alias("vid"),
        F.size(v).cast("int").alias("dim"),
        scale.alias("scale"),
        codes.alias("codes"),
    )


def sq8_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric brute-force top-k over SQ8 codes: the float query
    scores each candidate as scale * sum(q_i * code_i) — the exact
    dot product against the dequantized vector, computed WITHOUT
    materialising any float corpus (the corpus side stays int8 +
    one scale). Queries broadcast (small by contract), candidates
    stream; per-query ranking is a window over rounded score with an
    id tie-break, so rank order is engine-reproducible.

    Emits (queryId, neighborId, approxDot, rank <= k), excluding
    self-pairs.

    r14: scoring runs as a batched BLAS kernel (the cosine_topk
    device; guide §4.2). The old form was a broadcast pair join whose
    projection evaluated the interpreted zip_with/aggregate dot fold
    per (corpus row × query) pair — |corpus|·|Q| interpreted O(dim)
    folds. The queries (small by the same contract that let them
    broadcast) now collect to a per-dimension matrix riding the task
    closure; each Arrow batch of codes scores as ONE
    scale·(codes @ Qᵀ) product, 6dp half-away rounded (the F.round
    tie direction), emitting only the per-batch top-k per query — a
    correct prefix of the total order, so the closing exact window
    ranks O(k·batches·|Q|) rows, never |corpus|·|Q|. Self-pairs are
    excluded in the kernel exactly as the old join condition did;
    dimension-mismatched queries score only same-dim corpus rows
    (the old size(qv) == dim filter).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.window import Window  # noqa: PLC0415

    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).collect()
    qrows = [r for r in qrows if r["qv"] is not None]
    qid_type = queries.schema[id_col].dataType.simpleString()
    vid_type = corpus_codes.schema["vid"].dataType.simpleString()
    out_schema = f"queryId {qid_type}, neighborId {vid_type}, approxDot double"
    src = corpus_codes.select("vid", "dim", "scale", "codes")
    if not qrows:
        return src.limit(0).select(
            F.col("vid").cast(qid_type).alias("queryId"),
            F.col("vid").alias("neighborId"),
            F.lit(None).cast("double").alias("approxDot"),
            F.lit(None).cast("int").alias("rank"),
        )
    qrows.sort(key=lambda r: r["qid"])
    # queries grouped by dimension: each group is one dense matrix;
    # a corpus row scores only against the group matching its dim
    groups: "dict[int, tuple[list, object]]" = {}
    for d in sorted({len(r["qv"]) for r in qrows}):
        rows_d = [r for r in qrows if len(r["qv"]) == d]
        groups[d] = (
            [r["qid"] for r in rows_d],
            np.array([list(r["qv"]) for r in rows_d], dtype=np.float64),
        )

    def _scan(batches):
        for pdf in batches:
            # scale is null exactly when codes is null (sq8_encode's
            # contract); both are dropped, as the old join's filter did
            sub = pdf[pdf["codes"].notna() & pdf["scale"].notna()]
            if sub.empty:
                continue
            dims = sub["dim"].to_numpy()
            chunks = []
            for d, (qids_d, qmat_d) in groups.items():
                sel = dims == d
                if not sel.any():
                    continue
                rows = sub[sel]
                mat = np.array(rows["codes"].tolist(), dtype=np.float64)
                scales = rows["scale"].to_numpy(dtype=np.float64)
                vids = rows["vid"].to_numpy()
                scores = _round_half_away(
                    scales[:, None] * (mat @ qmat_d.T)
                )  # (batch × |Q_d|)
                for qi, qid in enumerate(qids_d):
                    keep = vids != qid
                    if not keep.any():
                        continue
                    s, v = scores[keep, qi], vids[keep]
                    order = np.lexsort((v, -s))[:k]
                    chunks.append(
                        pd.DataFrame(
                            {
                                "queryId": [qid] * len(order),
                                "neighborId": v[order],
                                "approxDot": s[order],
                            }
                        )
                    )
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    pruned = src.mapInPandas(_scan, out_schema)
    w = Window.partitionBy("queryId").orderBy(
        F.col("approxDot").desc(), F.col("neighborId").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
