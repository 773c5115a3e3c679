"""Product quantization: encode correctness vs brute force, ADC
semantics, training shape, and null propagation; the exact top-k
kernels against a numpy brute force; and the ANN recall
certification of the ``ivf_index``/``ivfpq_index`` steps."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.pq import (
    codebooks_from_first_k,
    exact_l2_topk,
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
)
from test_steps import SF

# the sf0.01 embeddings: 500 vectors, the oracle-check scale
EMBEDDINGS = os.path.join(os.path.dirname(SF), "sf0.01", "embeddings.parquet")


def _vecs(spark, n=40, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    mat = rng.randn(n, dim).astype(np.float64)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        mat,
    )


def _brute_codes(mat, cb, m, sub):
    """Reference encoding in plain numpy: per subspace argmin of
    squared L2 against the codebook, smaller code on ties."""
    n = mat.shape[0]
    out = np.zeros((n, m), dtype=int)
    for s in range(m):
        x = mat[:, s * sub : (s + 1) * sub]
        c = cb[s]
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        out[:, s] = np.round(d2, 6).argmin(axis=1)
    return out


def test_pq_encode_matches_brute_force(spark):
    m, k, dim = 4, 6, 8
    df, mat = _vecs(spark, n=40, dim=dim)
    cbdf = codebooks_from_first_k(df, m=m, k=k, dim=dim)
    sub = dim // m
    cb = [mat[:k, s * sub : (s + 1) * sub] for s in range(m)]
    got = {
        r["vid"]: list(r["codes"]) for r in pq_encode(df, cbdf).collect()
    }
    want = _brute_codes(mat, cb, m, sub)
    for i in range(mat.shape[0]):
        assert got[i] == list(want[i]), f"row {i}"


def test_pq_encode_null_and_wrong_dim_propagate(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0]),
            (1, None),
            (2, [1.0, 2.0]),  # wrong dim
            (3, [0.0, 0.0, 9.0, 9.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cb = codebooks_from_first_k(
        df.filter(F.size("embedding") == 4), m=2, k=2, dim=4
    )
    got = {r["vid"]: r["codes"] for r in pq_encode(df, cb).collect()}
    assert got[1] is None and got[2] is None
    assert got[0] is not None and got[3] is not None


def test_pq_adc_topk_matches_exact_adc(spark):
    """ADC ranking equals the brute-force lookup-table computation
    (including per-cell and final 6dp rounding and self-exclusion)."""
    m, k_codes, dim, topk = 2, 4, 8, 3
    df, mat = _vecs(spark, n=30, dim=dim, seed=3)
    cbdf = codebooks_from_first_k(df, m=m, k=k_codes, dim=dim)
    sub = dim // m
    cb = [mat[:k_codes, s * sub : (s + 1) * sub] for s in range(m)]
    enc = pq_encode(df, cbdf)
    queries = df.filter(F.col("vec_id") < 2)
    got = {
        (r["queryId"], r["rank"]): (r["neighborId"], r["adcDist"])
        for r in pq_adc_topk(enc, cbdf, queries, k=topk).collect()
    }
    codes = _brute_codes(mat, cb, m, sub)
    for q in (0, 1):
        tables = []
        for s in range(m):
            qs = mat[q, s * sub : (s + 1) * sub]
            tables.append(
                np.round(((qs[None, :] - cb[s]) ** 2).sum(axis=1), 6)
            )
        adc = np.round(
            sum(tables[s][codes[:, s]] for s in range(m)), 6
        )
        order = sorted(
            [(adc[i], i) for i in range(mat.shape[0]) if i != q]
        )[:topk]
        for rank, (d, i) in enumerate(order, start=1):
            ni, nd = got[(q, rank)]
            assert ni == i and nd == pytest.approx(d, abs=1e-9)


def test_pq_adc_topk_empty_queries(spark):
    df, _ = _vecs(spark, n=10, dim=8)
    cb = codebooks_from_first_k(df, m=2, k=2, dim=8)
    enc = pq_encode(df, cb)
    out = pq_adc_topk(enc, cb, df.filter(F.col("vec_id") < 0), k=3)
    assert out.count() == 0
    assert out.columns == ["queryId", "neighborId", "adcDist", "rank"]


def test_train_pq_codebooks_shape_and_encodability(spark):
    m, k, dim = 2, 3, 8
    df, _ = _vecs(spark, n=24, dim=dim, seed=11)
    cb = train_pq_codebooks(df, m=m, k=k, n_iter=2, dim=dim)
    rows = cb.collect()
    assert {r["subspace"] for r in rows} == {0, 1}
    for r in rows:
        assert len(r["centroid"]) == dim // m
        assert r["clusterSize"] >= 1
    # trained codebooks feed encode directly (codes may not be dense
    # if a cluster emptied, so only pq_encode is exercised here)
    enc = pq_encode(df, cb.select("subspace", "code", "centroid"))
    got = enc.collect()
    assert len(got) == 24 and all(len(r["codes"]) == m for r in got)


def test_pq_validations(spark):
    df, _ = _vecs(spark, n=10, dim=8)
    with pytest.raises(ValueError, match="not divisible"):
        codebooks_from_first_k(df, m=3, k=2, dim=8)
    with pytest.raises(ValueError, match="empty"):
        pq_encode(df, codebooks_from_first_k(df, m=2, k=2, dim=8).limit(0))


def test_ivfpq_index_residual_encoding(spark):
    """Residual codes differ from raw-vector codes exactly when the
    assigned centroid is nonzero, and decode error through the
    residual path is <= the flat-PQ error (the point of IVF-PQ)."""
    import numpy as np

    from genetics_spark_coloc_spark.operators.pq import ivfpq_index

    m, k, dim = 2, 4, 8
    df, mat = _vecs(spark, n=30, dim=dim, seed=5)
    cents = df.filter(F.col("vec_id") < 3)
    cb = codebooks_from_first_k(df, m=m, k=k, dim=dim)
    idx = {r["vid"]: r for r in ivfpq_index(df, cents, cb).collect()}
    sub = dim // m
    cbm = [mat[:k, s * sub : (s + 1) * sub] for s in range(m)]
    cmat = mat[:3]
    for i in range(30):
        r = idx[i]
        d2c = ((mat[i][None, :] - cmat) ** 2).sum(axis=1)
        want_cent = int(np.round(d2c, 6).argmin())
        assert r["centroidId"] == want_cent
        resid = mat[i] - cmat[want_cent]
        for s in range(m):
            d2 = (
                (resid[s * sub : (s + 1) * sub][None, :] - cbm[s]) ** 2
            ).sum(axis=1)
            assert r["codes"][s] == int(np.round(d2, 6).argmin()), i


def test_ivfpq_topk_ranks_within_probed_list(spark):
    """Search results live in the query's probed list, exclude the
    query itself, and rank by the rounded ADC distance; nprobe=3
    (all lists) recovers candidates nprobe=1 cannot see."""
    from genetics_spark_coloc_spark.operators.pq import (
        ivfpq_index,
        ivfpq_topk,
    )

    df, _ = _vecs(spark, n=40, dim=8, seed=9)
    cents = df.filter(F.col("vec_id") < 3)
    cb = codebooks_from_first_k(df, m=2, k=4, dim=8)
    idx = ivfpq_index(df, cents, cb).localCheckpoint()
    member = {r["vid"]: r["centroidId"] for r in idx.collect()}
    queries = df.filter(F.col("vec_id") < 2)
    one = ivfpq_topk(idx, cents, cb, queries, k=5, nprobe=1).collect()
    assert one
    for r in one:
        assert r["centroidId"] == member[r["queryId"]]
        assert r["neighborId"] != r["queryId"]
    per_q = {}
    for r in one:
        per_q.setdefault(r["queryId"], []).append(r)
    for rs in per_q.values():
        rs.sort(key=lambda r: r["rank"])
        dists = [r["adcDist"] for r in rs]
        assert dists == sorted(dists)
    all_probe = ivfpq_topk(idx, cents, cb, queries, k=5, nprobe=3).collect()
    # probing every list can only widen the candidate pool
    assert {(r["queryId"], r["neighborId"]) for r in one} <= {
        (r["queryId"], r["neighborId"]) for r in all_probe
    } or len(all_probe) >= len(one)


def test_residual_trained_codebooks_beat_raw_trained(spark):
    """The point of training PQ on residuals (FAISS IVF-PQ): with the
    same budget, residual-trained codebooks reconstruct the corpus
    with LOWER mean squared error than raw-vector-trained ones,
    because the residual distribution is centered and tight. Also
    pins ivfpq_residuals' assignment to ivfpq_index's."""
    from genetics_spark_coloc_spark.operators.pq import (
        ivfpq_index,
        ivfpq_residuals,
        train_pq_codebooks,
    )

    m, k, dim = 2, 4, 8
    rng = np.random.RandomState(21)
    # clustered corpus: 3 well-separated centers + small noise, so
    # residuals are tiny relative to raw coordinates
    centers = rng.randn(3, dim) * 10
    mat = centers[rng.randint(0, 3, 60)] + rng.randn(60, dim)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in centers[i]]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    res = ivfpq_residuals(df, cents)
    res_rows = {r["vid"]: r for r in res.collect()}
    # assignment parity with ivfpq_index
    raw_cb = codebooks_from_first_k(df, m=m, k=k, dim=dim)
    idx = {r["vid"]: r["centroidId"] for r in ivfpq_index(df, cents, raw_cb).collect()}
    assert {v: r["centroidId"] for v, r in res_rows.items()} == idx

    res_df = res.select("vid", "residual")
    cb_res = train_pq_codebooks(
        res_df, m=m, k=k, n_iter=2, id_col="vid", vec_col="residual", dim=dim
    ).select("subspace", "code", "centroid")
    cb_raw = train_pq_codebooks(
        df, m=m, k=k, n_iter=2, dim=dim
    ).select("subspace", "code", "centroid")

    def mse(cb_df, vectors):
        """Reconstruction MSE by nearest-centroid per subspace."""
        by_s = {}
        for r in cb_df.collect():
            by_s.setdefault(r["subspace"], []).append(list(r["centroid"]))
        sub = dim // m
        total = 0.0
        for v in vectors:
            for s in range(m):
                c = np.array(by_s[s])
                x = v[s * sub : (s + 1) * sub]
                total += ((c - x) ** 2).sum(axis=1).min()
        return total / len(vectors)

    residual_vectors = np.array(
        [res_rows[i]["residual"] for i in range(60)]
    )
    raw_mse = mse(cb_raw, mat)                      # raw codebook on raw vectors
    res_mse = mse(cb_res, residual_vectors)         # residual codebook on residuals
    # reconstruction through coarse+fine must beat flat PQ on this
    # clustered corpus by a wide margin
    assert res_mse < raw_mse * 0.5, (res_mse, raw_mse)


def test_sq8_roundtrip_error_bound(spark):
    """Dequantized values differ from the originals by at most
    scale/2 + ulp (round-half-up quantization), codes stay in
    [-127, 127], max-|v| dims hit exactly ±127, and the zero/null
    edge rows encode as documented."""
    from genetics_spark_coloc_spark.operators.pq import sq8_encode

    rng = np.random.RandomState(3)
    mat = rng.randn(40, 16) * rng.uniform(0.1, 10, size=(40, 1))
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(40)]
    rows += [(100, [0.0] * 16), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vid"]: r for r in sq8_encode(df).collect()}
    for i in range(40):
        r = got[i]
        v = mat[i]
        scale = max(abs(v)) / 127.0
        assert abs(r["scale"] - scale) < 1e-12
        codes = np.array(r["codes"])
        assert codes.min() >= -127 and codes.max() <= 127
        assert np.max(np.abs(codes)) == 127  # extreme dim saturates
        recon = codes * r["scale"]
        assert np.max(np.abs(recon - v)) <= scale / 2 + 1e-12
    assert got[100]["scale"] == 0.0 and got[100]["codes"] == [0] * 16
    assert got[101]["codes"] is None and got[101]["scale"] is None


def test_sq8_topk_matches_exact_ranking_on_separated_data(spark):
    """On well-separated vectors the SQ8 approximate dot preserves the
    exact top-k ranking (quantization error << margin)."""
    from genetics_spark_coloc_spark.operators.pq import sq8_encode, sq8_topk

    rng = np.random.RandomState(9)
    # 5 orthogonal-ish direction groups with big magnitude gaps
    base = np.eye(8)[:5] * 100
    mat = np.vstack([base + rng.randn(5, 8) * 0.01 for _ in range(4)])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    enc = sq8_encode(df)
    got = {}
    for r in sq8_topk(enc, df.filter("vec_id < 5"), k=3).collect():
        got.setdefault(r["queryId"], []).append((r["rank"], r["neighborId"]))
    for qid in range(5):
        exact = np.argsort(
            [-float(mat[qid] @ mat[j]) if j != qid else np.inf for j in range(20)]
        )[:3]
        want = [int(x) for x in exact]
        assert [n for _, n in sorted(got[qid])] == want, (qid, got[qid], want)


def test_ivfpq_string_ids_roundtrip(spark):
    """The vid/neighborId output types are derived from the input id
    column (ADVICE r5): string doc ids must flow through ivfpq_index,
    ivfpq_residuals, and ivfpq_topk without a cast failure, and the
    lexicographically smaller neighborId must win ADC ties."""
    from genetics_spark_coloc_spark.operators.pq import (
        ivfpq_index,
        ivfpq_residuals,
        ivfpq_topk,
    )

    df, mat = _vecs(spark, n=24, dim=8, seed=11)
    sdf = df.select(
        F.concat(F.lit("doc-"), F.format_string("%03d", "vec_id")).alias(
            "vec_id"
        ),
        "embedding",
    )
    cents = df.filter(F.col("vec_id") < 3)  # long centroid ids
    cb = codebooks_from_first_k(df, m=2, k=4, dim=8)
    idx = ivfpq_index(sdf, cents, cb).localCheckpoint()
    assert dict(idx.dtypes)["vid"] == "string"
    rows = idx.collect()
    assert len(rows) == 24 and all(r["vid"].startswith("doc-") for r in rows)

    res = ivfpq_residuals(sdf, cents)
    assert dict(res.dtypes)["vid"] == "string"
    assert res.count() == 24

    queries = sdf.filter(F.col("vec_id") < "doc-002")
    out = ivfpq_topk(idx, cents, cb, queries, k=4, nprobe=3)
    assert dict(out.dtypes)["neighborId"] == "string"
    got = out.collect()
    assert got
    for r in got:
        assert r["neighborId"] != r["queryId"]
        assert r["neighborId"].startswith("doc-")

    # STRING centroid ids flow end-to-end too (the probe-position map
    # must keep the centroid id's native type, not int() it)
    scents = cents.select(
        F.concat(F.lit("c-"), F.col("vec_id").cast("string")).alias(
            "vec_id"
        ),
        "embedding",
    )
    sidx = ivfpq_index(sdf, scents, cb).localCheckpoint()
    assert dict(sidx.dtypes)["centroidId"] == "string"
    out2 = ivfpq_topk(sidx, scents, cb, queries, k=4, nprobe=2).collect()
    assert out2
    assert all(r["centroidId"].startswith("c-") for r in out2)
    # same neighbors as the long-centroid run at full probe depth
    out3 = {
        (r["queryId"], r["neighborId"])
        for r in ivfpq_topk(sidx, scents, cb, queries, k=4, nprobe=3).collect()
    }
    assert out3 == {(r["queryId"], r["neighborId"]) for r in got}


def test_argbest_rounded_relative_slop_large_magnitude(spark):
    """At |x| ~ 1e6+ the float error of x*1e6 exceeds any absolute
    slop; the relative eps term must still catch a competitor that
    rounds equal to the best, so the first-index tie break applies
    (ADVICE r5)."""
    from genetics_spark_coloc_spark.operators.similarity import (
        _argbest_rounded,
        _round_half_away,
    )

    base = 1.25e6
    # col1 is the unrounded min but col0 rounds equal -> tie -> index 0
    delta = 3e-7
    mat = np.array([[base + delta, base], [base, base + delta]])
    r = _round_half_away(mat)
    assert r[0, 0] == r[0, 1] and r[1, 0] == r[1, 1]  # grid-step tie
    best = _argbest_rounded(mat, largest=False)
    assert list(best) == [0, 0]
    best_max = _argbest_rounded(mat, largest=True)
    assert list(best_max) == [0, 0]
    # sanity: a clearly separated pair is untouched by the slop
    mat2 = np.array([[base, base + 10.0]])
    assert list(_argbest_rounded(mat2, largest=False)) == [0]
    assert list(_argbest_rounded(mat2, largest=True)) == [1]


def test_choose_nprobe_hits_target_on_clustered_fixture(spark):
    """The auto-tuner returns the smallest probed nprobe whose
    measured recall@k meets the target on a clustered corpus, and the
    curve is monotone non-decreasing (VERDICT r5 task #8)."""
    from genetics_spark_coloc_spark.operators.similarity import (
        choose_nprobe,
        kmeans_lloyd,
    )

    rng = np.random.RandomState(3)
    n_comp, dim, per = 8, 16, 60
    centers = rng.randn(n_comp, dim) * 8
    rows = []
    for i in range(n_comp * per):
        v = centers[i % n_comp] + rng.randn(dim) * 0.5
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lloyd(df, k=16, n_iter=2, dim=dim).select(
        F.col("centroidId").alias("vec_id"), "embedding"
    ).localCheckpoint()

    nprobe, curve = choose_nprobe(
        df, cents, target_recall=0.8, k=5, n_queries=20
    )
    recs = [c["recall_at_k"] for c in curve]
    assert curve[-1]["nprobe"] == nprobe
    assert recs == sorted(recs), curve  # monotone in nprobe
    assert recs[-1] >= 0.8, curve  # target met on this easy geometry
    # minimality: every earlier probed value missed the target
    assert all(r < 0.8 for r in recs[:-1]), curve
    # a sky-high target caps at max_nprobe and reports the best curve
    np2, curve2 = choose_nprobe(
        df, cents, target_recall=1.0, k=5, n_queries=20, max_nprobe=2
    )
    assert np2 == 2 and curve2[-1]["nprobe"] == 2


def _write(df, tmp_path, name):
    p = str(tmp_path / name)
    df.write.mode("overwrite").parquet(p)
    return p


def test_ivf_certify_detects_planted_drift(spark, tmp_path):
    """The ANN staleness monitor. Build an IVF
    index on a clean two-cluster corpus (certify: recall ~1), append
    a batch that straddles the frozen Voronoi boundary (each vector's
    true neighbours split across two lists, invisible to nprobe=1),
    re-certify: recall drops, the drop is RECORDED in the
    _recall_cert.json ledger inside the index, and a recall_floor
    between the two certifications fails the step loudly."""
    from genetics_spark_coloc_spark.steps import run_step

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    # two tight angular clusters around the frozen centroid directions
    # (0.01 steps: cosine gaps survive the kernels' 6dp rounding)
    train = [
        (i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(30)
    ] + [
        (100 + i, [0.01 * i, 1.0, 0.0, 0.0]) for i in range(30)
    ]
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    # drifted batch: TWIN PAIRS straddling the bisector of the two
    # frozen centroids — each pair shares a third coordinate (which
    # carries the neighbour distance) while a tiny ±0.01 second-coord
    # nudge flips the coarse assignment, so every drifted vector's
    # nearest true neighbour sits in the OTHER inverted list —
    # invisible to nprobe=1 by construction (in 1-D a sign split
    # keeps each side contiguous; the z-pairing is what interleaves)
    drift = [
        (
            200 + i,
            [
                1.0,
                1.0 + (0.01 if i % 2 else -0.01),
                0.1 * (1 + i // 2),
                0.0,
            ],
        )
        for i in range(40)
    ]

    corpus_p = _write(vecs(train), tmp_path, "corpus.parquet")
    cents_p = _write(vecs(cents), tmp_path, "cents.parquet")
    out = str(tmp_path / "ivf")
    run_step(
        spark, "ivf_index", {"corpus": corpus_p, "centroids": cents_p}, out
    )
    run_step(
        spark, "ivf_index", {"corpus": corpus_p, "centroids": cents_p}, out,
        params={"mode": "certify", "certify_queries": 40, "certify_k": 5},
    )
    cert_path = os.path.join(out, "_recall_cert.json")
    hist = json.load(open(cert_path))
    assert len(hist) == 1 and hist[0]["passed"]
    clean_recall = hist[0]["recall_at_k"]
    assert clean_recall > 0.95

    # the daily append, with a drifted crawl
    delta_p = _write(vecs(drift), tmp_path, "delta.parquet")
    run_step(
        spark, "ivf_index", {"corpus": delta_p, "centroids": cents_p}, out,
        params={"mode": "append"},
    )
    union_p = _write(vecs(train + drift), tmp_path, "union.parquet")
    run_step(
        spark, "ivf_index", {"corpus": union_p, "centroids": cents_p}, out,
        params={"mode": "certify", "certify_queries": 40, "certify_k": 5},
    )
    hist = json.load(open(cert_path))
    assert len(hist) == 2
    drifted_recall = hist[1]["recall_at_k"]
    assert drifted_recall < clean_recall - 0.05, (
        f"planted drift not detected: {clean_recall} -> {drifted_recall}"
    )
    # a floor between the two certifications gates the pipeline loudly,
    # and the failure message carries the measured remediation: with 2
    # centroids, nprobe=2 is exhaustive, so the hint must name it
    floor = (clean_recall + drifted_recall) / 2
    with pytest.raises(
        ValueError,
        match=r"(?s)recall certification FAILED.*Remediation: nprobe=2",
    ):
        run_step(
            spark, "ivf_index",
            {"corpus": union_p, "centroids": cents_p}, out,
            params={
                "mode": "certify", "certify_queries": 40,
                "certify_k": 5, "recall_floor": floor,
            },
        )
    # the failing certification is still recorded (history = evidence)
    hist = json.load(open(cert_path))
    assert len(hist) == 3 and hist[2]["passed"] is False


def test_ivfpq_certify_records_and_gates(spark, tmp_path):
    """The IVF-PQ twin: certify scores the compressed search against
    exact L2 over the raw corpus, appends to the ledger, and an
    unreachable recall_floor fails loudly."""
    from genetics_spark_coloc_spark.steps import run_step

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    corpus = [
        (i, [float(10 * (i % 2)) + 0.01 * i, 0.02 * i, 1.0, 0.0])
        for i in range(40)
    ]
    cents = [(0, [0.0, 0.0, 1.0, 0.0]), (1, [10.0, 0.0, 1.0, 0.0])]
    corpus_p = _write(vecs(corpus), tmp_path, "pq_corpus.parquet")
    cents_p = _write(vecs(cents), tmp_path, "pq_cents.parquet")
    cbs_p = _write(
        codebooks_from_first_k(vecs(corpus), m=2, k=8, dim=4),
        tmp_path,
        "pq_cbs.parquet",
    )
    out = str(tmp_path / "ivfpq")
    ins = {"corpus": corpus_p, "centroids": cents_p, "codebooks": cbs_p}
    run_step(spark, "ivfpq_index", ins, out)
    run_step(
        spark, "ivfpq_index", ins, out,
        params={
            "mode": "certify", "certify_queries": 16,
            "certify_k": 3, "certify_nprobe": 2,
        },
    )
    hist = json.load(open(os.path.join(out, "_recall_cert.json")))
    assert len(hist) == 1 and 0.0 <= hist[0]["recall_at_k"] <= 1.0
    assert hist[0]["n_queries"] == 16
    with pytest.raises(ValueError, match="recall certification FAILED"):
        run_step(
            spark, "ivfpq_index", ins, out,
            params={
                "mode": "certify", "certify_queries": 16,
                "certify_k": 3, "certify_nprobe": 2,
                "recall_floor": 1.01,
            },
        )


def brute_topk(ids, mat, query_ids, k, metric):
    """Exact top-k in plain numpy, independent of the kernels: float64
    scores (cosine, or squared L2 summed directly), self-matches
    excluded, rounded half away from zero at 6dp before ranking, ties
    toward the smaller id. Sorted (queryId, neighborId, score, rank)
    tuples."""
    ids = np.asarray(ids)
    mat = np.asarray(mat, dtype=np.float64)
    out = []
    for qid in query_ids:
        q = mat[ids == qid][0]
        if metric == "cosine":
            raw = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
            sign = -1.0  # best first = largest similarity
        else:
            raw = ((mat - q) ** 2).sum(axis=1)
            sign = 1.0
        score = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        ranked = sorted(
            (sign * float(s), int(n)) for s, n in zip(score, ids) if n != qid
        )
        out += [
            (int(qid), n, sign * s, rank)
            for rank, (s, n) in enumerate(ranked[:k], start=1)
        ]
    return sorted(out)


def test_exact_l2_topk_ignores_junk_vectors(spark):
    """A null or dimension-mismatched embedding must never rank as a
    nearest neighbour, whether the query has at least k valid
    neighbours (k=2) or fewer (k=4)."""
    rows = [
        (1, [0.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [2.0, 0.0]),
        (4, None),          # null embedding
        (5, [9.0]),         # wrong dimension
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = exact_l2_topk(df, df.filter(F.col("vec_id") == 1), k=2).collect()
    assert [(r["neighborId"], r["l2Dist"]) for r in out] == [
        (2, 1.0),
        (3, 4.0),
    ]
    # with k > the valid-neighbour count the junk rows must still be
    # dropped, not surface with a null distance
    out = exact_l2_topk(df, df.filter(F.col("vec_id") == 1), k=4).collect()
    assert [(r["neighborId"], r["l2Dist"]) for r in out] == [
        (2, 1.0),
        (3, 4.0),
    ]


def test_exact_topk_kernels_match_numpy_brute_force(spark):
    """The exact top-k kernels return exactly what a plain numpy brute
    force returns (float64, 6dp half-away rounding before ranking,
    smaller-id tie-break, self-matches excluded) on the bundled
    embeddings table: full tuple equality, schema included."""
    import pyarrow.parquet as pq

    from genetics_spark_coloc_spark.operators.similarity import cosine_topk

    table = pq.read_table(EMBEDDINGS, columns=["vec_id", "embedding"])
    ids = table.column("vec_id").to_numpy()
    mat = np.array(table.column("embedding").to_pylist(), dtype=np.float64)
    query_ids = [int(i) for i in ids if i % 50 == 0]
    emb = spark.read.parquet(EMBEDDINGS)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    for fn, metric, score in (
        (cosine_topk, "cosine", "cosineSim"),
        (exact_l2_topk, "l2", "l2Dist"),
    ):
        got = fn(emb, queries, k=5)
        assert got.schema.simpleString() == (
            f"struct<queryId:bigint,neighborId:bigint,{score}:double,rank:int>"
        )
        assert sorted(tuple(r) for r in got.collect()) == brute_topk(
            ids, mat, query_ids, 5, metric
        ), metric
    # junk rows never surface: null and wrong-dimension vectors in
    # either metric, zero-norm ones in cosine (0/0 = NaN, and Spark
    # orders NaN above every number: one junk row would otherwise
    # become every query's top-1 under the DESC rank)
    junk = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),
            (2, [1.0, 0.0]),
            (3, None),
            (4, [9.0]),
            (5, [0.0, 0.0]),  # zero norm -> NaN cosine
        ],
        "vec_id long, embedding array<double>",
    )
    got = cosine_topk(junk, junk.filter("vec_id = 1"), k=4).collect()
    assert {r["neighborId"] for r in got} == {2}
    got = exact_l2_topk(junk, junk.filter("vec_id = 1"), k=3).collect()
    assert {r["neighborId"] for r in got} == {2, 5}  # zero-norm fine in L2

    # IVF counterpart of the cosine exclusion: a zero-norm member in a
    # probed list must never rank (it used to NaN-sort above every
    # real neighbor)
    from genetics_spark_coloc_spark.operators.similarity import ivf_topk

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = ivf_topk(
        junk.filter("vec_id in (1, 2, 5)"),
        junk.filter("vec_id = 1"),
        cents,
        k=3,
        nprobe=2,
    ).collect()
    assert {r["neighborId"] for r in got} == {2}


def test_topk_recall_counts_silent_queries_as_zero(spark):
    """A query the approximate search returned NOTHING for is recall
    0, not a dropped row — otherwise an index that loses whole queries
    would look perfect on the ones it kept."""
    from genetics_spark_coloc_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q2", "c"), ("q2", "d")],
        "queryId string, neighborId string",
    )
    approx = spark.createDataFrame(
        [("q1", "a"), ("q1", "x")],  # q2 entirely absent
        "queryId string, neighborId string",
    )
    row = topk_recall(approx, exact).collect()[0]
    assert row["nQueries"] == 2
    assert row["avgRecall"] == pytest.approx(0.25)  # (0.5 + 0.0) / 2
    assert row["minRecall"] == 0.0
