"""Tests for PZ regression, sessionization (batch + streaming),
IVF ANN, and multimodal feature plumbing."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.qc import pz_regression
from genetics_spark_coloc_spark.operators.sessions import sessionize, sessionize_stream
from genetics_spark_coloc_spark.operators.similarity import assign_to_centroids, ivf_topk


def test_pz_regression_recovers_identity(spark):
    """If beta/se equals z-from-p exactly, slope=1 and intercept=0."""
    import math

    rows = []
    for i, p in enumerate([1e-3, 1e-4, 1e-5, 5e-2, 1e-6, 2e-3]):
        # z for two-sided p via the same Acklam approx the operator uses
        from genetics_spark_coloc_spark.functions.pvalue import split_pvalue

        mantissa, exponent = split_pvalue(p)
        sign = 1 if i % 2 == 0 else -1
        rows.append(
            Row(
                studyId="S0",
                pValueMantissa=float(mantissa),
                pValueExponent=int(exponent),
                beta=float(sign * p),  # placeholder, fixed below
                standardError=1.0,
            )
        )
    df = spark.createDataFrame(rows)
    # set beta so beta/se == zscore_from_pvalue exactly
    from genetics_spark_coloc_spark.functions.pvalue import zscore_from_pvalue

    df = df.withColumn(
        "beta",
        zscore_from_pvalue(
            F.col("pValueMantissa"), F.col("pValueExponent"), F.col("beta")
        )
        * F.col("standardError"),
    )
    out = pz_regression(df).collect()[0]
    assert math.isclose(out.pzSlope, 1.0, abs_tol=1e-9)
    assert math.isclose(out.pzIntercept, 0.0, abs_tol=1e-9)
    assert out.nVariants == 6


def test_sessionize_gap_split(spark):
    rows = [
        Row(user_id=1, ts=t, value=1.0)
        for t in [0, 60, 120, 5000, 5060, 99999]
    ] + [Row(user_id=2, ts=0, value=2.0)]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    out = {
        (r.userId, r.sessionOrdinal): (r.nEvents, r.durationS)
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert out[(1, 1)] == (3, 120.0)
    assert out[(1, 2)] == (2, 60.0)
    assert out[(1, 3)] == (1, 0.0)
    assert out[(2, 1)] == (1, 0.0)


def test_sessionize_nanos_long_input(spark):
    """ts as nanos-since-epoch long (the testdata shape)."""
    rows = [
        Row(user_id=1, ts=0),
        Row(user_id=1, ts=100 * 10**9),
        Row(user_id=1, ts=10_000 * 10**9),
    ]
    df = spark.createDataFrame(rows).withColumn("value", F.lit(1.0))
    got = sessionize(df, gap_seconds=1800).orderBy("sessionOrdinal").collect()
    assert [r.nEvents for r in got] == [2, 1]
    assert got[0].durationS == 100.0


def test_sessionize_stream_matches_batch_totals(spark, tmp_path):
    src = str(tmp_path / "events_in")
    rows = [
        Row(user_id=1, ts=t, value=1.0) for t in [0, 60, 5000, 5060]
    ] + [Row(user_id=2, ts=30, value=1.0)]
    batch_df = spark.createDataFrame(rows).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    sessions = sessionize_stream(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sessions_out").collect()
    # 3 sessions total (user1: 2, user2: 1), all 5 events accounted for
    assert len(got) == 3
    assert sum(r.nEvents for r in got) == 5


def test_streaming_stateful_user_stats(spark, tmp_path):
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_running_user_stats,
    )

    src = str(tmp_path / "ev_state")
    rows = [
        Row(user_id=1, ts=1.0, value=10.0),
        Row(user_id=1, ts=2.0, value=30.0),
        Row(user_id=2, ts=3.0, value=5.0),
    ]
    batch = spark.createDataFrame(rows).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("user_stats_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.user_id: (r.nEvents, r.valueSum, r.valueMax)
           for r in spark.sql("select * from user_stats_out").collect()}
    assert got[1] == (2, 40.0, 30.0)
    assert got[2] == (1, 5.0, 5.0)


def _vec(*xs):
    return [float(x) for x in xs]


def test_assign_to_centroids_and_ivf(spark):
    corpus = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=_vec(1, 0)),
            Row(vec_id=1, embedding=_vec(0, 1)),
            Row(vec_id=2, embedding=_vec(0.9, 0.1)),
            Row(vec_id=3, embedding=_vec(0.1, 0.9)),
            Row(vec_id=4, embedding=_vec(0.8, 0.2)),
        ]
    )
    centroids = corpus.filter(F.col("vec_id") < 2)
    assigned = {
        r.vid: r.centroidId
        for r in assign_to_centroids(corpus, centroids).collect()
    }
    assert assigned == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}

    out = ivf_topk(corpus, corpus.filter(F.col("vec_id") == 2), centroids, k=2).collect()
    # query 2 lives in cluster 0 with members {0, 4}
    assert {r.neighborId for r in out} == {0, 4}
    assert all(r.centroidId == 0 for r in out)

    # prebuilt inverted lists (ivf_members) must reproduce the same
    # result — the index-build/search split for repeated query batches
    from genetics_spark_coloc_spark.operators.similarity import ivf_members

    lists = ivf_members(corpus, centroids)
    out2 = ivf_topk(
        corpus, corpus.filter(F.col("vec_id") == 2), centroids, k=2, members=lists
    ).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))


def test_asof_join_inclusive_and_tiebreak(spark):
    from genetics_spark_coloc_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            Row(k="a", t=10.0, lbl="first"),
            Row(k="a", t=25.0, lbl="mid"),
            Row(k="a", t=5.0, lbl="early"),
            Row(k="b", t=10.0, lbl="other"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", t=10.0, payload=1.0, eid=1),
            Row(k="a", t=10.0, payload=2.0, eid=2),  # same ts, higher eid wins
            Row(k="a", t=20.0, payload=3.0, eid=3),
            Row(k="b", t=50.0, payload=9.0, eid=4),  # after left -> null
        ]
    )
    out = {
        r.lbl: r.asof_payload
        for r in asof_join(
            left, right, on=["k"], ts_col="t", payload_cols=["payload"], tiebreak_col="eid"
        ).collect()
    }
    assert out["early"] is None  # no right row at/before t=5
    assert out["first"] == 2.0  # inclusive at equal ts, max-eid tiebreak
    assert out["mid"] == 3.0  # forward fill past t=20
    assert out["other"] is None  # right row strictly after


def test_harmonise_sumstats_flip_and_drop(spark):
    from genetics_spark_coloc_spark.operators.harmonise import (
        annotation_both_orientations,
        harmonise_sumstats,
    )

    canonical = spark.createDataFrame(
        [
            Row(chromosome="1", position=100, refAllele="A", altAllele="G"),
            Row(chromosome="1", position=200, refAllele="A", altAllele="T"),
            Row(chromosome="X", position=300, refAllele="C", altAllele="A"),
        ]
    ).withColumn(
        "variantId",
        F.concat_ws("_", "chromosome", "position", "refAllele", "altAllele"),
    )
    raw = spark.createDataFrame(
        [
            # direct match
            Row(studyId="s", chromosome="1", position=100, allele0="A", allele1="G",
                beta=1.0, info=0.9, a1freq=0.3),
            # flipped orientation -> beta negated, eaf reflected
            Row(studyId="s", chromosome="1", position=100, allele0="G", allele1="A",
                beta=1.0, info=0.9, a1freq=0.3),
            # palindromic flip -> dropped
            Row(studyId="s", chromosome="1", position=200, allele0="T", allele1="A",
                beta=1.0, info=0.9, a1freq=0.3),
            # palindromic direct -> kept
            Row(studyId="s", chromosome="1", position=200, allele0="A", allele1="T",
                beta=2.0, info=0.9, a1freq=0.4),
            # low INFO -> dropped
            Row(studyId="s", chromosome="1", position=100, allele0="A", allele1="G",
                beta=1.0, info=0.5, a1freq=0.3),
            # chromosome 23 -> X
            Row(studyId="s", chromosome="23", position=300, allele0="C", allele1="A",
                beta=3.0, info=0.9, a1freq=0.2),
        ]
    )
    out = harmonise_sumstats(raw, annotation_both_orientations(canonical)).collect()
    rows = {(r.variantId, r.direction): r for r in out}
    assert len(out) == 4
    assert rows[("1_100_A_G", "direct")].beta == 1.0
    flip = rows[("1_100_A_G", "flip")]
    assert flip.beta == -1.0
    assert abs(flip.effectAlleleFrequencyFromSource - 0.7) < 1e-9
    assert rows[("1_200_A_T", "direct")].variantType == "snp_c"
    assert ("1_200_A_T", "flip") not in rows
    assert rows[("X_300_C_A", "direct")].chromosome == "X"


def test_multimodal_feature_determinism(spark):
    from genetics_spark_coloc_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [Row(mediaId=1, modality="image", payload=b"hello")]
    )
    row = extract_features(media, dim=4).collect()[0]
    digest = hashlib.md5(b"hello").digest()
    expected = [digest[i] / 256.0 for i in range(4)]
    assert row.decodeStatus == "stubbed"
    assert [round(float(x), 9) for x in row.feature] == [
        round(e, 9) for e in expected
    ]


def test_connected_components_chain_and_islands(spark):
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        duplicate_clusters,
    )
    from pyspark.sql import functions as F

    verts = spark.range(10).select(F.col("id").cast("long").alias("doc_id"))
    # a 5-chain (0-1-2-3-4), a triangle (5,6,7), islands 8, 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)],
        "leftId: long, rightId: long",
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            verts, edges, "doc_id", num_rounds=4
        ).collect()
    }
    assert all(comp[i] == 0 for i in range(5))
    assert all(comp[i] == 5 for i in (5, 6, 7))
    assert comp[8] == 8 and comp[9] == 9

    clusters = duplicate_clusters(verts, edges, num_rounds=4).collect()
    by_id = {r["docId"]: r for r in clusters}
    assert by_id[3]["clusterId"] == 0 and by_id[3]["clusterSize"] == 5
    assert by_id[0]["isKeeper"] and not by_id[4]["isKeeper"]
    assert by_id[8]["clusterSize"] == 1 and by_id[8]["isKeeper"]


def test_connected_components_until_converged_long_chain(spark):
    from genetics_spark_coloc_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    n = 40
    verts = spark.range(n).select(F.col("id").cast("long").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "leftId: long, rightId: long"
    )
    comp = connected_components(verts, edges, "doc_id", num_rounds=30).collect()
    assert all(r["component"] == 0 for r in comp)


def test_connected_components_unconverged_raises(spark):
    """A chain longer than the fixed round budget can reach must fail
    LOUDLY (round-4 guard) — silent exit would split true clusters."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.graph import connected_components

    n = 64
    verts = spark.range(n).select(F.col("id").cast("long").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "leftId: long, rightId: long"
    )
    # small_graph_edges=0 forces the distributed loop: this test pins
    # LOOP behavior (the budget raise); the fast path always converges
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            verts, edges, "doc_id", num_rounds=1, small_graph_edges=0
        ).collect()


def _tiny_bmp(width: int = 4, height: int = 4) -> bytes:
    """Uncompressed 24-bit bottom-up BMP with gray(x + 4y) pixels."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for row in range(height):  # bottom-up: first stored row = y max
        y = height - 1 - row
        for x in range(width):
            v = (x + 4 * y) * 16
            pixel_bytes += bytes([v, v, v])  # b, g, r equal -> gray v
        pixel_bytes += b"\x00" * (row_stride - width * 3)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_bytes), 0, 0, 0, 0)
    return bytes(header + pixel_bytes)


def test_multimodal_bmp_really_decodes(spark):
    """decodeStatus='decoded' is real: the built-in BMP parser (or
    Pillow when installed) produces the 8x8 grid features."""
    from genetics_spark_coloc_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [Row(mediaId=7, modality="image", payload=_tiny_bmp())]
    )
    row = extract_features(media, dim=64).collect()[0]
    assert row.decodeStatus == "decoded"
    assert row.featureDim == 64
    # grid sample (gx,gy) hits pixel (gx*4//8, gy*4//8) = gray 16*(x+4y)
    expected_first = (0 * 16) / 255.0   # (0,0)
    expected_last = ((3 + 4 * 3) * 16) / 255.0  # (3,3)
    assert abs(row.feature[0] - expected_first) < 1e-6
    assert abs(row.feature[63] - expected_last) < 1e-6


def test_multimodal_pillow_branch_parity(monkeypatch):
    """The Pillow decode branch (operators/multimodal.py
    ``_decode_image`` with ``_PILImage`` present) has never executed
    in this codec-less environment. Drive it with a minimal PIL
    stand-in that fulfils the exact surface the branch consumes —
    ``open(BytesIO).convert("RGB")`` → ``.load()`` indexing +
    ``.width``/``.height`` — backed by an independent BMP parse, and
    assert the branch produces byte-identical features to the
    built-in BMP path (both funnel through ``_grid_features``). The
    undecodable→NotImplementedError wrap is asserted too. With real
    Pillow installed the same test passes unchanged except the
    stand-in is unused, so both branches stay covered either way."""
    import io
    import struct

    import pytest as _pytest

    from genetics_spark_coloc_spark.operators import multimodal

    class _FakeLoaded:
        def __init__(self, payload: bytes):
            off = struct.unpack_from("<I", payload, 10)[0]
            self.width, self.height = struct.unpack_from("<ii", payload, 18)
            self._stride = (self.width * 3 + 3) & ~3
            self._off, self._p = off, payload

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def load(self):
            return self

        def __getitem__(self, xy):
            x, y = xy
            o = self._off + (self.height - 1 - y) * self._stride + x * 3
            return self._p[o + 2], self._p[o + 1], self._p[o]

    class _FakePIL:
        @staticmethod
        def open(buf):
            payload = buf.read()
            if payload[:2] != b"BM":
                raise OSError("cannot identify image file")
            return _FakeLoaded(payload)

    bmp = _tiny_bmp()
    via_bmp_parser = multimodal._decode_bmp(bmp)
    monkeypatch.setattr(multimodal, "_PILImage", _FakePIL)
    via_pil_branch = multimodal._decode_image(bmp)
    assert via_pil_branch == via_bmp_parser

    with _pytest.raises(NotImplementedError, match="undecodable"):
        multimodal._decode_image(b"\x89PNG not really")


def test_tokenizer_engine_parity_boundary(spark):
    """Pin the exact boundary of Spark↔DuckDB tokenizer parity: Java
    regex \\s includes \\x0B (ASCII vertical tab); RE2's does not —
    the ONE whitespace character where the `tokens()` Column and the
    oracles' string_split_regex spelling can diverge. Everything else
    (tab, CR/LF, FF, double spaces, and non-splitting unicode spaces
    like NBSP/em-space/ideographic) must agree, verified here on a
    batched random corpus. The driver testdata is \\x0B-free, so all
    117 oracle comparisons sit inside the parity region this test
    fences."""
    import random

    import duckdb

    from genetics_spark_coloc_spark.operators.text import tokens

    charset = list("abc XY9.,!\t\n\r\f")
    rng = random.Random(11)
    cases = [
        "".join(rng.choice(charset) for _ in range(rng.randrange(0, 40)))
        for _ in range(200)
    ]
    sdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, text string"
    )
    got = {
        r.i: list(r.t)
        for r in sdf.select("i", tokens(F.lower(F.col("text"))).alias("t")).collect()
    }
    con = duckdb.connect()
    q = (
        "select case when length(trim(lower(?))) = 0 then [] "
        "else string_split_regex(trim(lower(?)), '\\s+') end"
    )
    for i, c in enumerate(cases):
        want = list(con.execute(q, [c, c]).fetchone()[0])
        assert got[i] == want, (i, c)

    # ...and the known divergences, asserted so a regex change that
    # silently shifts the boundary fails loudly:
    # 1. Java \s splits \x0B (vertical tab); RE2's does not
    vt = "left\x0bright"
    spark_toks = (
        spark.createDataFrame([(vt,)], "text string")
        .select(tokens(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    duck_toks = con.execute(q, [vt, vt]).fetchone()[0]
    assert list(spark_toks) == ["left", "right"]
    assert list(duck_toks) == ["left\x0bright"]
    # 2. edge unicode spaces: the engines' trim() disagree on what
    # counts as trimmable, so NBSP-leading text tokenizes differently
    nb = "\xa0lead"
    spark_nb = (
        spark.createDataFrame([(nb,)], "text string")
        .select(tokens(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    duck_nb = con.execute(q, [nb, nb]).fetchone()[0]
    assert list(spark_nb) != list(duck_nb)


def test_kmeans_lloyd_partitions_and_moves(spark):
    """Two Lloyd iterations over the real embeddings: every valid
    vector lands in exactly one cluster (sizes sum to the corpus),
    centroids move off their seed vectors by iteration 2, and the
    run is deterministic (no RNG anywhere)."""
    from genetics_spark_coloc_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    out = kmeans_lloyd(emb, k=4, n_iter=2, dim=64).collect()
    sizes = {r.centroidId: r.clusterSize for r in out}
    assert sum(sizes.values()) == n
    assert set(sizes) <= {0, 1, 2, 3} and len(sizes) >= 2
    # centroid 0 is the mean of its cluster, not the seed vector
    seed0 = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    got0 = next(list(r.embedding) for r in out if r.centroidId == 0)
    assert any(abs(a - b) > 1e-4 for a, b in zip(got0, seed0))
    again = kmeans_lloyd(emb, k=4, n_iter=2, dim=64).collect()
    assert sorted((r.centroidId, tuple(r.embedding)) for r in out) == sorted(
        (r.centroidId, tuple(r.embedding)) for r in again
    )


def test_pii_stats_and_redaction(spark):
    """Counts and redaction agree on planted PII; emails redact as
    one unit (never a leftover '<NUM>@...'), IPs don't double-count
    as digit runs, clean text passes through untouched."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import pii_redact, pii_stats

    df = spark.createDataFrame(
        [
            (1, "mail me at john.doe99@sub.example.org or 192.168.0.1 ok"),
            (2, "account 1234567890123 and backup 987654321"),
            (3, "perfectly clean prose"),
        ],
        "doc_id long, text string",
    )
    stats = pii_stats(F.col("text"))
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            stats["email"].alias("e"),
            stats["ipv4"].alias("i"),
            stats["longDigits"].alias("d"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert (got[1].e, got[1].i, got[1].d) == (1, 1, 0)
    assert got[1].red == "mail me at <EMAIL> or <IP> ok"
    assert (got[2].e, got[2].i, got[2].d) == (0, 0, 2)
    assert got[2].red == "account <NUM> and backup <NUM>"
    assert got[3].red == "perfectly clean prose"
    assert "@" not in got[1].red and "<NUM>@" not in got[1].red


def test_bigram_lm_score_hand_computed(spark):
    """Add-one-smoothed bigram LM on a 3-doc corpus, checked against
    hand-derived probabilities: vocab {a,b} so V=2; c('a b')=2,
    c('b a')=1, c_left(a)=2, c_left(b)=1."""
    import math

    from genetics_spark_coloc_spark.operators.text import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "A  b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r.docId: r for r in bigram_lm_score(docs, "text", "doc_id").collect()
    }
    p_ab = (2 + 1) / (2 + 2)  # P(b|a)
    p_ba = (1 + 1) / (1 + 2)  # P(a|b)
    d1 = (math.log(p_ab) + math.log(p_ba)) / 2
    assert got[1].nBigrams == 2
    assert abs(got[1].avgLogProb - round(d1, 6)) < 1e-9
    assert abs(got[1].perplexity - round(math.exp(-d1), 6)) < 1e-9
    # lowercasing: "A  b" trains and scores as "a b"
    assert got[2].nBigrams == 1
    assert abs(got[2].avgLogProb - round(math.log(p_ab), 6)) < 1e-9
    # empty and null docs survive with zero bigrams and null scores
    for d in (3, 4):
        assert got[d].nBigrams == 0
        assert got[d].avgLogProb is None and got[d].perplexity is None


def test_stratified_hash_sample_rates_and_determinism(spark):
    """Realized per-stratum rates concentrate on the targets, the
    sample is identical across invocations (hash membership, no RNG),
    and unlisted strata fall back to default_rate."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import stratified_hash_sample

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("und")
        .alias("lang"),
    )
    kept = stratified_hash_sample(
        df, F.col("lang"), rates={"en": 0.5, "und": 0.25}, id_col="doc_id"
    )
    by = {
        r.stratum: r.n
        for r in kept.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert abs(by["en"] / (20_000 / 3) - 0.5) < 0.05
    assert abs(by["und"] / (20_000 / 3) - 0.25) < 0.05
    assert by["de"] == 6667  # default_rate 1.0 keeps every row
    ids_a = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids_b = sorted(
        r.doc_id
        for r in stratified_hash_sample(
            df, F.col("lang"), rates={"en": 0.5, "und": 0.25}, id_col="doc_id"
        ).select("doc_id").collect()
    )
    assert ids_a == ids_b


def test_ngram_repetition_ratio_edges(spark):
    from genetics_spark_coloc_spark.operators.text import ngram_repetition_ratio
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("a", "x y x y x y"),          # bigrams: xy yx xy yx xy -> 2 distinct / 5
            ("b", "all words differ here"),  # no repeats
            ("c", "one"),                   # fewer tokens than n
            ("d", ""),                      # empty
        ],
        "id: string, text: string",
    )
    out = {
        r["id"]: r["rep"]
        for r in df.select(
            "id", ngram_repetition_ratio(F.col("text"), 2).alias("rep")
        ).collect()
    }
    assert out["a"] == pytest.approx(1 - 2 / 5)
    assert out["b"] == 0.0
    assert out["c"] == 0.0
    assert out["d"] == 0.0


def test_hash_split_deterministic_and_proportioned(spark):
    from genetics_spark_coloc_spark.operators.text import hash_split
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(F.col("id"))
    out = df.select("id", hash_split(F.col("id")).alias("split"))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 10_000 - 0.8) < 0.02
    assert abs(counts["validation"] / 10_000 - 0.1) < 0.01
    assert abs(counts["test"] / 10_000 - 0.1) < 0.01
    # determinism: same ids -> same assignment on recompute
    again = {r["id"]: r["split"] for r in out.collect()}
    assert {r["id"]: r["split"] for r in out.collect()} == again


def test_ivf_topk_nprobe_improves_recall(spark):
    """nprobe=2 scans two inverted lists per query: its results must
    be a superset-or-equal quality of nprobe=1 (recall can only go
    up), and every nprobe=1 neighbour pair stays discoverable."""
    import math

    from genetics_spark_coloc_spark.operators.similarity import ivf_topk

    def vec(angle):
        return [float(math.cos(angle)), float(math.sin(angle))]

    # two centroids on the axes; a query halfway between them should
    # find near neighbours from BOTH clusters only when nprobe=2
    corpus = spark.createDataFrame(
        [
            (10, vec(0.1)), (11, vec(0.2)),      # cluster of centroid A (angle 0)
            (20, vec(1.45)), (21, vec(1.35)),    # cluster of centroid B (angle ~pi/2)
        ],
        "vec_id: long, embedding: array<float>",
    )
    queries = spark.createDataFrame(
        [(99, vec(0.78))], "vec_id: long, embedding: array<float>"
    )
    centroids = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(1.5708))], "vec_id: long, embedding: array<float>"
    )
    r1 = ivf_topk(corpus, queries, centroids, k=4, nprobe=1).collect()
    r2 = ivf_topk(corpus, queries, centroids, k=4, nprobe=2).collect()
    n1 = {r["neighborId"] for r in r1}
    n2 = {r["neighborId"] for r in r2}
    assert n1 <= n2
    assert len(n2) == 4  # both clusters probed
    assert len(n1) == 2  # single cluster only


def test_streaming_attribution_join(spark, tmp_path):
    """Live stream-stream attribution: views join same-user clicks in
    the lookback window; out-of-window and cross-user clicks don't
    match."""
    import datetime as dt

    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_attribution_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    views_dir, clicks_dir = str(tmp_path / "views"), str(tmp_path / "clicks")
    spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=40), 100),
            (2, t0 + dt.timedelta(minutes=40), 200),
        ],
        "userId: long, eventTime: timestamp, viewEventId: long",
    ).write.parquet(views_dir)
    spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=20), 7, 1.5),   # in window
            (1, t0, 8, 2.5),                              # too old (>30m before)
            (3, t0 + dt.timedelta(minutes=30), 9, 3.5),   # other user
        ],
        "userId: long, eventTime: timestamp, clickEventId: long, clickValue: double",
    ).write.parquet(clicks_dir)

    views = spark.readStream.schema(
        "userId long, eventTime timestamp, viewEventId long"
    ).parquet(views_dir)
    clicks = spark.readStream.schema(
        "userId long, eventTime timestamp, clickEventId long, clickValue double"
    ).parquet(clicks_dir)
    out = streaming_attribution_join(views, clicks)
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM attrib").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["userId"], r["viewEventId"], r["clickEventId"]) == (1, 100, 7)
    assert r["clickValue"] == 1.5


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs: the distributed label propagation must
    match a python union-find on every one of them."""
    import random

    from genetics_spark_coloc_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    for seed in range(4):
        rnd = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rnd.sample(range(n), 2)))
                for _ in range(rnd.randint(10, 80))
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        verts = spark.range(n).select(F.col("id").cast("long").alias("doc_id"))
        edf = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges] or [(0, 0)],
            "leftId: long, rightId: long",
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                verts, edf, "doc_id", num_rounds=20,
                small_graph_edges=0,
            ).collect()
        }
        assert got == expected, f"seed {seed}"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join WITHOUT a shuffle
    exchange — the at-rest layout every '100 TB' docstring in this
    repo appeals to, verified on the physical plan."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.session import write_bucketed

    left = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "bt_left", ["k"], num_buckets=8)
    write_bucketed(right, "bt_right", ["k"], num_buckets=8)
    try:
        joined = spark.table("bt_left").join(spark.table("bt_right"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() == 10_000
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_salted_aggregate_matches_plain_groupby(spark):
    """Salted two-phase aggregation equals the plain groupBy exactly
    for integral aggregates on a heavily skewed key, and the plan
    shows the two-exchange shape."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.functions.skew import salted_aggregate

    # 90% of rows share one hot key
    df = spark.range(100_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("key"),
        (F.col("id") % 1000).alias("v"),
    )
    salted = salted_aggregate(
        df, ["key"],
        {"total": ("sum", "v"), "n": ("count", "*"),
         "lo": ("min", "v"), "hi": ("max", "v")},
    )
    plain = df.groupBy("key").agg(
        F.sum("v").alias("total"), F.count("*").alias("n"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
    )
    a = {r["key"]: (r["total"], r["n"], r["lo"], r["hi"]) for r in salted.collect()}
    b = {r["key"]: (r["total"], r["n"], r["lo"], r["hi"]) for r in plain.collect()}
    assert a == b
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") >= 2  # salt phase + combine phase


class TestHyperplaneSignatureParity:
    def test_vectorized_bits_equal_expression_bits(self, spark):
        """The BLAS-matmul signature kernel and the pure-Column
        reference must produce identical sign bits — the vectorized
        path is a performance substitution, not a semantic change."""
        from pyspark.sql import functions as F

        from genetics_spark_coloc_spark.operators.similarity import (
            hyperplane_signature_bits,
            hyperplane_signature_bits_expr,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        fast = emb.select(
            "vec_id", hyperplane_signature_bits(F.col("embedding"), 32, 64).alias("b")
        ).toPandas().sort_values("vec_id").reset_index(drop=True)
        slow = emb.select(
            "vec_id",
            hyperplane_signature_bits_expr(F.col("embedding"), 32, 64).alias("b"),
        ).toPandas().sort_values("vec_id").reset_index(drop=True)
        assert len(fast) == len(slow) > 0
        assert all(list(a) == list(b) for a, b in zip(fast["b"], slow["b"]))


class TestStreamingNearDup:
    def test_streaming_pairs_match_batch_lsh(self, spark, tmp_path):
        """Replaying the documents table through the stateful
        streaming LSH reproduces the batch candidate-pair set
        exactly (as unordered id pairs; the batch operator orders
        numerically, the stream lexicographically)."""
        from genetics_spark_coloc_spark.operators import dedup
        from genetics_spark_coloc_spark.streaming.pipelines import (
            streaming_near_dup_pairs,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # null-text docs must vanish on BOTH paths (batch drops them
        # at the shingle explode; the stream filters before banding)
        docs = docs.select("doc_id", "text").unionByName(
            spark.createDataFrame(
                [(98_001, None), (98_002, None)], "doc_id long, text string"
            )
        )
        batch_pairs = {
            frozenset({str(r.leftId), str(r.rightId)})
            for r in dedup.minhash_dedup_pairs(
                docs, "text", "doc_id", num_perm=8, band_size=2
            ).collect()
        }
        assert batch_pairs, "fixture produced no near-dup pairs"

        src = str(tmp_path / "docs_stream")
        # two parquet files => at least two micro-batch candidates;
        # state must carry bucket membership across them
        docs.repartition(2).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_near_dup_pairs(stream, "text", "doc_id")
        q = (
            out.writeStream.format("memory")
            .queryName("neardup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql("select * from neardup_out").collect()
        stream_pairs = {frozenset({r.leftId, r.rightId}) for r in got}
        assert stream_pairs == batch_pairs
        # per-band rows never pair a doc with itself
        assert all(len(p) == 2 for p in stream_pairs)


    def test_state_rows_stay_bounded_under_eviction(self, spark, tmp_path):
        """Long-run state-bound probe: feed many micro-batches whose
        LSH buckets are DISJOINT batch-to-batch with
        ``state_timeout_ms`` eviction armed. The state store must
        hold O(recently-active buckets), not O(every bucket ever
        seen) — the bound that makes an unbounded document stream
        near-dup-able at all. Asserted from the engine's own
        stateOperators metrics, not from inference."""
        import re
        import time

        from genetics_spark_coloc_spark.streaming.pipelines import (
            bucket_pair_stream,
        )

        buckets_per_batch = 50
        n_batches = 8
        src = str(tmp_path / "banded_stream")

        def write_batch(k: int) -> None:
            rows = [
                (f"d{k}_{i}", 0, f"bucket_{k}_{i % buckets_per_batch}")
                for i in range(2 * buckets_per_batch)
            ]
            spark.createDataFrame(
                rows, "docId string, bandIdx int, bandHash string"
            ).coalesce(1).write.mode("append").parquet(src)

        write_batch(0)
        stream = (
            spark.readStream.schema("docId string, bandIdx int, bandHash string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = bucket_pair_stream(stream, state_timeout_ms=800)
        q = (
            out.writeStream.format("memory")
            .queryName("neardup_state_probe")
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            for k in range(1, n_batches):
                write_batch(k)
                time.sleep(1.0)  # > timeout: earlier batches go cold
            # settle: let eviction triggers fire past the last timeout
            # (plain polling — processAllAvailable can block behind
            # the continuous 200ms trigger loop). A loaded host runs
            # micro-batches seconds behind the trigger, so the state
            # bound only counts once the source's end offset shows
            # every batch file consumed (one file per micro-batch; the
            # file log's offsets count from 0).
            deadline = time.time() + 60
            while time.time() < deadline:
                time.sleep(1.0)
                p = q.lastProgress
                if not p or not p["stateOperators"]:
                    continue
                end = re.search(r"logOffset\D*(\d+)", p["sources"][0]["endOffset"])
                if end is None or int(end.group(1)) < n_batches - 1:
                    continue
                rows_total = p["stateOperators"][0]["numRowsTotal"]
                if rows_total <= 3 * buckets_per_batch:
                    break
            peak = max(
                pr["stateOperators"][0]["numRowsTotal"]
                for pr in q.recentProgress
                if pr["stateOperators"]
            )
            final = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        finally:
            q.stop()
        total_buckets = n_batches * buckets_per_batch
        # every batch's pairs were emitted (the operator worked)...
        emitted = spark.sql(
            "select count(distinct leftId) as n from neardup_state_probe"
        ).collect()[0]["n"]
        assert emitted >= buckets_per_batch * (n_batches - 1)
        # ...while state stayed bounded by the active window, far
        # below the all-buckets-ever total
        assert final <= 3 * buckets_per_batch, (final, total_buckets)
        assert peak < total_buckets, (peak, total_buckets)


    def test_streaming_decontaminate_matches_batch(self, spark, tmp_path):
        """Replaying the documents table through the stateless
        streaming decontaminator reproduces the batch operator's
        (docId, nMatchingGrams, isContaminated) rows exactly."""
        from genetics_spark_coloc_spark.operators.text import decontaminate
        from genetics_spark_coloc_spark.streaming.pipelines import (
            streaming_decontaminate,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        eval_df = docs.filter(F.col("doc_id") % 13 == 0)
        train = docs.filter(F.col("doc_id") % 13 != 0)
        batch = {
            r.docId: (r.nMatchingGrams, r.isContaminated)
            for r in decontaminate(train, eval_df, n=5).collect()
        }
        assert batch and any(v[1] for v in batch.values()), "fixture too clean"

        src = str(tmp_path / "train_stream")
        train.repartition(2).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(train.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_decontaminate(stream, eval_df, n=5)
        q = (
            out.writeStream.format("memory")
            .queryName("decon_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.docId: (r.nMatchingGrams, r.isContaminated)
            for r in spark.sql("select * from decon_out").collect()
        }
        assert got == batch


class TestAssignToCentroidsParity:
    def test_blas_assignment_equals_expression_form(self, spark):
        """The matmul quantizer must reproduce the broadcast-join +
        argmax expression form exactly: same centroid, same rounded
        similarity, same small-id tie-breaks."""
        from genetics_spark_coloc_spark.operators.similarity import (
            assign_to_centroids,
            assign_to_centroids_expr,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        centroids = emb.limit(16)
        fast = {
            r.vid: (r.centroidId, r.centroidSim)
            for r in assign_to_centroids(emb, centroids).collect()
        }
        slow = {
            r.vid: (r.centroidId, r.centroidSim)
            for r in assign_to_centroids_expr(emb, centroids).collect()
        }
        assert fast == slow and len(fast) > 0


class TestKernelRobustness:
    """Round-4 review fixes: batch kernels must degrade like the
    Column forms they replaced (null-propagate, stub, clear errors)
    instead of crashing the task."""

    def test_null_and_ragged_embeddings_survive(self, spark):
        from genetics_spark_coloc_spark.operators.similarity import (
            assign_to_centroids,
            cosine_vec,
            hyperplane_signature_bits,
        )

        rows = [
            Row(vec_id=0, embedding=[float(d) / 64 for d in range(64)]),
            Row(vec_id=1, embedding=None),
            Row(vec_id=2, embedding=[1.0, 2.0]),  # ragged
            Row(vec_id=3, embedding=[float(63 - d) / 64 for d in range(64)]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        sigs = {
            r.vec_id: r.b
            for r in df.select(
                "vec_id",
                hyperplane_signature_bits(F.col("embedding"), 32, 64).alias("b"),
            ).collect()
        }
        assert sigs[1] is None and sigs[2] is None
        assert sigs[0] is not None and sigs[3] is not None

        sims = {
            r.vec_id: r.c
            for r in df.select(
                "vec_id", cosine_vec(F.col("embedding"), F.col("embedding")).alias("c")
            ).collect()
        }
        assert sims[1] is None  # null side -> null
        assert abs(sims[0] - 1.0) < 1e-12
        assert abs(sims[2] - 1.0) < 1e-12  # self-cosine of any length is valid
        # length-mismatched pair -> null (the Column fold's zip_with
        # semantics would silently truncate; the kernel refuses)
        mismatch = df.filter(F.col("vec_id").isin(0, 2)).select(
            cosine_vec(
                F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
            ).alias("c"),
            "vec_id",
        )
        vals = {r.vec_id: r.c for r in mismatch.collect()}
        assert vals[0] is None and vals[2] is None

        cents = df.filter(F.col("vec_id") == 0)
        assigned = {
            r.vid: (r.centroidId, r.centroidSim)
            for r in assign_to_centroids(df, cents).collect()
        }
        assert assigned[1] == (None, None)
        assert assigned[2] == (None, None)
        assert assigned[0][0] == 0

    def test_empty_centroids_is_a_clear_error(self, spark):
        from genetics_spark_coloc_spark.operators.similarity import (
            assign_to_centroids,
        )

        df = spark.createDataFrame(
            [Row(vec_id=0, embedding=[1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="centroids table is empty"):
            assign_to_centroids(df, df.filter(F.col("vec_id") < 0))

    def test_string_centroid_ids(self, spark):
        from genetics_spark_coloc_spark.operators.similarity import (
            assign_to_centroids,
        )

        df = spark.createDataFrame(
            [
                Row(vec_id="a", embedding=[1.0, 0.0]),
                Row(vec_id="b", embedding=[0.0, 1.0]),
            ],
            "vec_id string, embedding array<double>",
        )
        out = {r.vid: r.centroidId for r in assign_to_centroids(df, df).collect()}
        assert out == {"a": "a", "b": "b"}

    def test_truncated_bmp_degrades_to_stub(self, spark):
        import struct

        from genetics_spark_coloc_spark.operators.multimodal import extract_features

        # plausible 24-bit BMP header claiming 100x100 pixels but with
        # no raster bytes at all
        header = bytearray(54)
        header[0:2] = b"BM"
        struct.pack_into("<I", header, 10, 54)       # pixel offset
        struct.pack_into("<ii", header, 18, 100, 100)  # width, height
        struct.pack_into("<HH", header, 26, 1, 24)   # planes, bpp
        struct.pack_into("<I", header, 30, 0)        # BI_RGB
        media = spark.createDataFrame(
            [Row(mediaId=1, modality="image", payload=bytes(header))],
            "mediaId long, modality string, payload binary",
        )
        row = extract_features(media).collect()[0]
        assert row.decodeStatus == "stubbed"
        assert len(row.feature) == 8

    def test_sink_step_without_out_is_a_clear_error(self, spark, tmp_path):
        from genetics_spark_coloc_spark.steps import run_step

        src = str(tmp_path / "vi")
        spark.createDataFrame(
            [Row(variantId="1_10_A_G", chromosome="1", position=10,
                 referenceAllele="A", alternateAllele="G")]
        ).write.parquet(src)
        with pytest.raises(ValueError, match="writes to --out"):
            run_step(spark, "variant_to_vcf", {"variant_index": src}, output=None)


class TestStreamingEmbeddingNearDup:
    def test_streaming_candidates_match_batch_banded_lsh(self, spark, tmp_path):
        """Replaying the embeddings table through the stateful
        hyperplane-LSH stream reproduces the batch banded candidate
        set (as unordered id pairs)."""
        from genetics_spark_coloc_spark.operators.similarity import (
            lsh_cosine_candidates_banded,
        )
        from genetics_spark_coloc_spark.streaming.pipelines import (
            streaming_embedding_near_dup,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        batch_pairs = {
            frozenset({str(r.leftId), str(r.rightId)})
            for r in lsh_cosine_candidates_banded(
                emb, num_bands=4, planes_per_band=8
            ).collect()
        }
        assert batch_pairs, "fixture produced no candidate pairs"

        src = str(tmp_path / "emb_stream")
        emb.repartition(2).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_embedding_near_dup(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("emb_neardup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql("select * from emb_neardup_out").collect()
        stream_pairs = {frozenset({r.leftId, r.rightId}) for r in got}
        assert stream_pairs == batch_pairs


def test_gopher_quality_rules(spark):
    """Each published rule fires on a crafted violator and the keep
    verdict is the conjunction; null text rejects via word count."""
    from genetics_spark_coloc_spark.operators.text import gopher_quality

    good = "the quick brown fox jumps over the lazy dog " * 8  # 72 words
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short doc"),                                # word count
            (3, "aa " * 60),                                 # mean word len < 3
            (4, ("the of " * 30) + "# " * 20),               # symbol ratio
            (5, "\n".join(["- bullet point here"] * 10)),    # bullet lines
            (6, ("the of word " * 20) + "1 " * 40),          # alpha fraction
            (7, "zebra quartz " * 30),                       # no stopwords
            (8, None),                                       # null text
        ],
        "doc_id long, text string",
    )
    got = {r.docId: r for r in gopher_quality(docs, min_words=20).collect()}
    assert got[1].keep
    assert not got[2].okWordCount and not got[2].keep
    assert not got[3].okMeanWordLen and not got[3].keep
    assert not got[4].okSymbolRatio and not got[4].keep
    assert not got[5].okBulletLines and not got[5].keep
    assert not got[6].okAlphaWords and not got[6].keep
    assert not got[7].okStopwords and not got[7].keep
    assert not got[8].okWordCount and not got[8].keep


def test_duplicate_line_stats_hand_computed(spark):
    """dup-line fraction/char fraction on crafted inputs: repeated
    lines count (all occurrences), unique lines don't, null text is
    zero-lines... actually one empty line, zero chars."""
    from genetics_spark_coloc_spark.operators.text import duplicate_line_stats

    stats = duplicate_line_stats(F.col("text"))
    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha\ngamma"),   # 4 lines, 'alpha' x2
            (2, "one\ntwo\nthree"),             # no repeats
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            stats["nLines"].alias("n"),
            stats["dupLineFrac"].alias("f"),
            stats["dupLineCharFrac"].alias("cf"),
        ).collect()
    }
    assert got[1].n == 4 and abs(got[1].f - 0.5) < 1e-9
    # alpha+alpha chars = 10 of 19 total (alpha=5, beta=4, alpha=5, gamma=5)
    assert abs(got[1].cf - 10 / 19) < 1e-9
    assert got[2].f == 0.0 and got[2].cf == 0.0
    assert got[3].n == 1 and got[3].f == 0.0 and got[3].cf == 0.0


def test_semantic_dedup_marks_planted_near_dups(spark):
    """A planted near-copy (tiny perturbation of an existing vector)
    must be marked duplicate-of the smaller original id; orthogonal
    vectors stay clean."""
    from genetics_spark_coloc_spark.operators.similarity import semantic_dedup

    base = [[1.0 if d == i % 4 else 0.02 * ((i + d) % 3) for d in range(4)]
            for i in range(12)]
    base.append([v * 1.0 + (0.001 if d == 0 else 0.0) for d, v in enumerate(base[2])])
    rows = [(i, v) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vecId: r for r in semantic_dedup(
        df, k=4, n_iter=2, threshold=0.99, dim=4
    ).collect()}
    assert len(out) == 13
    planted = out[12]
    assert planted.isDuplicate and planted.dupOf == 2 and planted.maxSim >= 0.99
    assert not out[0].isDuplicate and not out[1].isDuplicate
    # the keeper itself is never marked (only larger ids point back)
    assert not out[2].isDuplicate


def test_pack_sequences_layout(spark):
    """Deterministic concat-then-chunk layout: offsets accumulate in
    id order, bins advance every seq_len tokens, boundary spans flag
    exactly the docs crossing a chunk edge."""
    from genetics_spark_coloc_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a " * 6), (2, "b " * 3), (3, "c " * 4), (4, "d " * 2)],
        "doc_id long, text string",
    )
    got = {r.docId: r for r in pack_sequences(docs, seq_len=8).collect()}
    # layout: doc1 [0,6) seq0; doc2 [6,9) spans 0->1; doc3 [9,13) seq1;
    # doc4 [13,15) seq1
    assert (got[1].seqId, got[1].offsetInSeq, got[1].spansBoundary) == (0, 0, False)
    assert (got[2].seqId, got[2].offsetInSeq, got[2].spansBoundary) == (0, 6, True)
    assert (got[3].seqId, got[3].offsetInSeq, got[3].spansBoundary) == (1, 1, False)
    assert (got[4].seqId, got[4].offsetInSeq, got[4].spansBoundary) == (1, 5, False)


def test_stateless_text_ops_run_on_streams(spark, tmp_path):
    """gopher_quality and the PII family are stateless projections,
    so they run UNCHANGED on a readStream — certified by replaying
    the same rows through both paths and comparing exactly."""
    from genetics_spark_coloc_spark.operators.text import gopher_quality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    batch = {
        r.docId: tuple(r)[1:]
        for r in gopher_quality(docs, min_words=10).collect()
    }
    src = str(tmp_path / "docs_gq")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        gopher_quality(stream, min_words=10)
        .writeStream.format("memory")
        .queryName("gq_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.docId: tuple(r)[1:]
        for r in spark.sql("select * from gq_out").collect()
    }
    assert got == batch


def test_temperature_mixture_rates_and_determinism(spark):
    """α=0.5 halves the dominant stratum's rate relative to sqrt of
    its excess; the rarest stratum keeps rate exactly 1; membership
    is replayable; α=1 is the identity mix."""
    from genetics_spark_coloc_spark.operators.text import temperature_mixture
    from pyspark.sql import functions as F

    rows = [(i, "en" if i < 400 else "fi") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture(df, F.col("lang"), alpha=0.5).collect()
    rates = {r["stratum"]: r["samplingRate"] for r in out}
    assert rates["fi"] == 1.0
    assert rates["en"] == pytest.approx((400 / 100) ** -0.5, abs=1e-6)
    # every rare-stratum row survives; dominant stratum thins out
    kept_en = sum(1 for r in out if r["stratum"] == "en")
    assert sum(1 for r in out if r["stratum"] == "fi") == 100
    assert 0 < kept_en < 400
    again = temperature_mixture(df, F.col("lang"), alpha=0.5).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in out
    )
    ident = temperature_mixture(df, F.col("lang"), alpha=1.0)
    assert ident.count() == 500


def test_temperature_mixture_null_stratum_kept_as_group(spark):
    from genetics_spark_coloc_spark.operators.text import temperature_mixture
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, "en")], "doc_id long, lang string"
    )
    out = temperature_mixture(df, F.col("lang"), alpha=0.0).collect()
    # n_min = 1 ('en'); null stratum (n=2) gets rate 0.5, en keeps 1.0
    assert {r["samplingRate"] for r in out if r["stratum"] is None} <= {0.5}
    assert [r["samplingRate"] for r in out if r["stratum"] == "en"] == [1.0]


def test_classifier_score_known_weights(spark):
    """Hand-checkable bag-average: score = σ(bias + mean weight),
    unknown tokens contribute 0 but count in the mean, empty docs
    score σ(bias)."""
    import math

    from genetics_spark_coloc_spark.operators.text import classifier_score

    docs = spark.createDataFrame(
        [
            (0, "good good bad"),
            (1, "unknown words only"),
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 2.0), ("bad", -1.0)], "term string, weight double"
    )
    got = {
        r["docId"]: r
        for r in classifier_score(docs, weights, bias=0.5).collect()
    }
    mean0 = (2.0 + 2.0 - 1.0) / 3
    assert got[0]["meanWeight"] == pytest.approx(mean0, abs=1e-6)
    assert got[0]["score"] == pytest.approx(
        1 / (1 + math.exp(-(0.5 + mean0))), abs=1e-6
    )
    assert got[0]["label"] is True
    assert got[1]["meanWeight"] == 0.0
    assert got[1]["score"] == pytest.approx(
        1 / (1 + math.exp(-0.5)), abs=1e-6
    )
    for d in (2, 3):
        assert got[d]["nTokens"] == 0
        assert got[d]["score"] == pytest.approx(
            1 / (1 + math.exp(-0.5)), abs=1e-6
        )


def test_chunk_documents_window_semantics(spark):
    """Window starts every stride tokens, stops once a window reaches
    the end; short and empty docs yield one chunk; overlap text is
    correct."""
    from genetics_spark_coloc_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (1, "a b c"),
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["docId"], []).append(r)
    # n=10, max=4, stride=3 -> ceil(6/3)+1 = 3 chunks at 0,3,6
    c0 = sorted(by_doc[0], key=lambda r: r["chunkIdx"])
    assert [r["startTok"] for r in c0] == [0, 3, 6]
    assert [r["nChunkTokens"] for r in c0] == [4, 4, 4]
    assert c0[1]["chunkText"] == "t3 t4 t5 t6"
    assert c0[2]["chunkText"] == "t6 t7 t8 t9"
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunkText"] == "a b c"
    for d in (2, 3):
        assert len(by_doc[d]) == 1
        assert by_doc[d][0]["nChunkTokens"] == 0
        assert by_doc[d][0]["chunkText"] == ""
    # tail shorter than max: n=5, max=4, stride=3 -> chunks at 0,3
    out5 = chunk_documents(
        spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string"),
        max_tokens=4,
        stride=3,
    ).collect()
    assert sorted((r["startTok"], r["nChunkTokens"]) for r in out5) == [
        (0, 4),
        (3, 2),
    ]
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, max_tokens=4, stride=5)


def test_interleave_order_balances_sources(spark):
    """Consecutive rows in (roundIdx, orderKey) order rotate across
    sources; different salts give different orders; same salt is
    stable."""
    from genetics_spark_coloc_spark.operators.text import interleave_order
    from pyspark.sql import functions as F

    rows = [(i, f"s{i % 4}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = (
        interleave_order(df, F.col("source"), salt="epoch-0")
        .orderBy("roundIdx", "orderKey")
        .collect()
    )
    # every window of 4 consecutive rows holds all 4 sources
    for i in range(0, 80, 4):
        assert {r["source"] for r in out[i : i + 4]} == {
            "s0",
            "s1",
            "s2",
            "s3",
        }
    out2 = (
        interleave_order(df, F.col("source"), salt="epoch-1")
        .orderBy("roundIdx", "orderKey")
        .collect()
    )
    assert [r["docId"] for r in out] != [r["docId"] for r in out2]
    again = (
        interleave_order(df, F.col("source"), salt="epoch-0")
        .orderBy("roundIdx", "orderKey")
        .collect()
    )
    assert [r["docId"] for r in again] == [r["docId"] for r in out]


def test_stateless_round5_ops_run_on_streams(spark, tmp_path):
    """chunk_documents and pq_encode are stateless projections
    (array expressions / closure-carried codebook), so they run
    UNCHANGED on a readStream — certified by replaying the same rows
    through both paths and comparing exactly."""
    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        pq_encode,
    )
    from genetics_spark_coloc_spark.operators.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    batch_chunks = {
        (r["docId"], r["chunkIdx"]): (r["startTok"], r["chunkText"])
        for r in chunk_documents(docs, max_tokens=16, stride=12).collect()
    }
    src = str(tmp_path / "docs_chunk")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        chunk_documents(stream, max_tokens=16, stride=12)
        .writeStream.format("memory")
        .queryName("chunk_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["docId"], r["chunkIdx"]): (r["startTok"], r["chunkText"])
        for r in spark.sql("select * from chunk_out").collect()
    }
    assert got == batch_chunks

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cb = codebooks_from_first_k(emb, m=4, k=8, dim=64)
    batch_codes = {
        r["vid"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()
    }
    esrc = str(tmp_path / "emb_pq")
    emb.write.mode("overwrite").parquet(esrc)
    estream = spark.readStream.schema(emb.schema).parquet(esrc)
    q2 = (
        pq_encode(estream, cb)
        .writeStream.format("memory")
        .queryName("pq_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {
        r["vid"]: list(r["codes"])
        for r in spark.sql("select * from pq_out").collect()
    }
    assert got2 == batch_codes


def test_bpe_top_merges_counts(spark):
    from genetics_spark_coloc_spark.operators.text import bpe_top_merges

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = bpe_top_merges(docs, k=3).collect()
    got = [(r["pair"], r["pairCount"]) for r in out]
    # 'a b' x3 ('a b a b c' has two, 'a b x' one); ties broken by pair asc
    assert got[0] == ("a b", 3)
    assert ("b a", 1) in got or ("b c", 1) in got or ("b x", 1) in got
    assert len(got) == 3


def test_strip_boilerplate_drops_common_lines_preserves_order(spark):
    from genetics_spark_coloc_spark.operators.text import strip_boilerplate
    from pyspark.sql import functions as F

    rows = [(i, "COOKIE BANNER\nunique line %d\nFOOTER" % i) for i in range(5)]
    rows.append((99, "only unique content"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["docId"]: r
        for r in strip_boilerplate(
            df, F.split(F.col("text"), "\n"), max_df=3
        ).collect()
    }
    for i in range(5):
        assert out[i]["nLines"] == 3
        assert out[i]["nKept"] == 1
        assert out[i]["cleanedText"] == f"unique line {i}"
    assert out[99]["cleanedText"] == "only unique content"
    # order preservation with interleaved boilerplate
    df2 = spark.createDataFrame(
        [(i, "z common\nfirst%d\nz common\nsecond%d" % (i, i)) for i in range(4)],
        "doc_id long, text string",
    )
    out2 = {
        r["docId"]: r["cleanedText"]
        for r in strip_boilerplate(
            df2, F.split(F.col("text"), "\n"), max_df=2
        ).collect()
    }
    assert out2[0] == "first0\nsecond0"


def test_canonicalize_url_variants_collapse(spark):
    from genetics_spark_coloc_spark.operators.text import canonicalize_url
    from pyspark.sql import functions as F

    urls = [
        "HTTPS://Example.COM/a/b?utm_source=x&page=2#frag",
        "https://example.com/a/b?page=2",
        "https://example.com/a/b/?page=2",
        "https://example.com/a/b?page=2&utm_campaign=y",
        "https://example.com/a/b?utm_a=1&utm_b=2&page=2",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["c"]
        for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got == {"https://example.com/a/b?page=2"}
    # tracking-only query collapses entirely; fragment-only URL cleans
    df2 = spark.createDataFrame(
        [("https://e.com/p?utm_x=1",), ("https://e.com/p#sec",)], "url string"
    )
    got2 = {
        r["c"]
        for r in df2.select(canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got2 == {"https://e.com/p"}
    # params whose NAME merely ends in "ref" are NOT tracking params and
    # must survive intact (regression: unanchored regex mangled these)
    df3 = spark.createDataFrame(
        [
            ("https://e.com/p?href=X",),
            ("https://e.com/p?pref=1",),
            ("https://e.com/p?pref=2",),
            ("https://e.com/p?xref=Y&ref=tw",),
        ],
        "url string",
    )
    got3 = sorted(
        r["c"]
        for r in df3.select(canonicalize_url(F.col("url")).alias("c")).collect()
    )
    assert got3 == [
        "https://e.com/p?href=X",
        "https://e.com/p?pref=1",
        "https://e.com/p?pref=2",
        "https://e.com/p?xref=Y",
    ]


def test_url_dedup_keeper_is_min_id(spark):
    from genetics_spark_coloc_spark.operators.text import url_dedup

    df = spark.createDataFrame(
        [
            (3, "https://e.com/x?utm_a=1"),
            (1, "HTTPS://E.COM/x"),
            (2, "https://e.com/x/"),
            (9, "https://e.com/other"),
        ],
        "doc_id long, url string",
    )
    out = {r["docId"]: r for r in url_dedup(df).collect()}
    assert out[1]["isKeeper"] and not out[2]["isKeeper"] and not out[3]["isKeeper"]
    assert out[1]["urlGroupSize"] == 3
    assert out[9]["isKeeper"] and out[9]["urlGroupSize"] == 1


def test_incremental_exact_dedup_marks(spark):
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    index = spark.createDataFrame(
        [(100, "seen before"), (101, "other old")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [
            (1, "seen before"),   # dup of index
            (2, "brand new"),
            (3, "brand new"),     # dup within delta of 2
            (4, "also new"),
            (5, None),            # null text hashes as ''
        ],
        "doc_id long, text string",
    )
    out = {
        r["docId"]: r for r in incremental_exact_dedup(delta, index).collect()
    }
    assert out[1]["dupOfIndex"] and not out[1]["keep"]
    assert out[2]["keep"] and not out[2]["dupWithinDelta"]
    assert out[3]["dupWithinDelta"] and not out[3]["dupOfIndex"]
    assert not out[3]["keep"]
    assert out[4]["keep"] and out[5]["keep"]


def test_incremental_lsh_candidates_cross_only(spark):
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_dedup_pairs,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text_a) for i in range(4)] + [
        (i, f"completely different content number {i} with enough length")
        for i in range(4, 8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    delta = df.filter("doc_id % 2 = 0")
    index = df.filter("doc_id % 2 = 1")
    got = {
        (r["deltaId"], r["indexId"])
        for r in incremental_lsh_candidates(delta, index).collect()
    }
    # pairs are strictly delta x index
    assert all(d % 2 == 0 and i % 2 == 1 for d, i in got)
    # the 4 identical docs (0,1,2,3) must pair across the split
    assert (0, 1) in got and (2, 3) in got and (0, 3) in got
    # cross-split coverage matches the batch pipeline restricted to
    # cross pairs
    batch = {
        tuple(sorted((r["leftId"], r["rightId"])))
        for r in minhash_dedup_pairs(df, "text", "doc_id").collect()
    }
    cross_batch = {p for p in batch if (p[0] % 2) != (p[1] % 2)}
    got_norm = {tuple(sorted(p)) for p in got}
    assert got_norm == cross_batch


def test_incremental_dedup_runs_stream_static(spark, tmp_path):
    """The production continuous-ingest shape: a STREAMING delta
    marked against a STATIC persisted index. incremental_exact_dedup
    composes a stream-static left join + a window; the window is not
    stream-safe, so the streaming twin marks dupOfIndex only (the
    within-batch mark belongs to the batch compactor) — certified
    against the batch operator's dupOfIndex on the same rows."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    index = spark.createDataFrame(
        [(100, "seen before"), (101, "other old")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "other old"), (4, None)],
        "doc_id long, text string",
    )
    want = {
        r["docId"]: r["dupOfIndex"]
        for r in incremental_exact_dedup(delta, index).collect()
    }
    src = str(tmp_path / "delta_stream")
    delta.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(delta.schema).parquet(src)
    idx_hashes = index.select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("contentHash")
    ).distinct()
    marked = (
        stream.select(
            F.col("doc_id").alias("docId"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("contentHash"),
        )
        .join(
            idx_hashes.withColumn("_inIndex", F.lit(True)),
            on="contentHash",
            how="left",
        )
        .select(
            "docId",
            F.coalesce(F.col("_inIndex"), F.lit(False)).alias("dupOfIndex"),
        )
    )
    q = (
        marked.writeStream.format("memory")
        .queryName("delta_marked")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["docId"]: r["dupOfIndex"]
        for r in spark.sql("select * from delta_marked").collect()
    }
    assert got == want


def test_chunk_documents_covers_every_token(spark):
    """Property: across chunks, token positions [0, n) are covered
    exactly by the sliding windows (union of [start, start+len) is
    the full range, consecutive chunks overlap by max_tokens-stride
    except possibly the last)."""
    import random

    from genetics_spark_coloc_spark.operators.text import chunk_documents

    rng = random.Random(5)
    rows = []
    for i in range(30):
        n = rng.randint(0, 40)
        rows.append((i, " ".join(f"w{j}" for j in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for max_t, stride in [(8, 8), (8, 5), (5, 2), (1, 1)]:
        chunks = {}
        for r in chunk_documents(df, max_tokens=max_t, stride=stride).collect():
            chunks.setdefault(r["docId"], []).append(
                (r["startTok"], r["nChunkTokens"])
            )
        for i, text in rows:
            n = len(text.split()) if text else 0
            cs = sorted(chunks[i])
            covered = set()
            for start, ln in cs:
                assert 0 <= start and (start == 0 or start < n)
                covered.update(range(start, start + ln))
            assert covered == set(range(n)), (i, max_t, stride, cs)
            # no chunk fully contained in its predecessor
            for (s1, l1), (s2, l2) in zip(cs, cs[1:]):
                assert s2 + l2 > s1 + l1


def test_duplicate_spans_merges_overlaps_and_self_repeats(spark):
    """Hand-computed span semantics: cross-doc shared runs merge into
    maximal spans, a within-doc exact repeat counts (suffix-array
    parity), abutting windows (gap == k) merge, unique docs and
    sub-window docs emit nothing, matching is case-insensitive."""
    from genetics_spark_coloc_spark.operators.text import duplicate_spans

    df = spark.createDataFrame(
        [
            (0, "A b c d e f g h"),
            (1, "x x a b c d e f y"),
            (2, "p q r s t p q r s t"),
            (3, "solo words only here now"),
            (4, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["docId"], r["spanStart"], r["spanEnd"], r["spanTokens"])
        for r in duplicate_spans(df, min_tokens=5).collect()
    }
    assert got == {(0, 0, 6, 6), (1, 2, 8, 6), (2, 0, 10, 10)}


def test_remove_duplicate_spans_rebuilds_text(spark):
    from genetics_spark_coloc_spark.operators.text import remove_duplicate_spans

    df = spark.createDataFrame(
        [
            (0, "A b c d e f g h"),
            (1, "x x a b c d e f y"),
            (2, "p q r s t p q r s t"),
            (3, "solo words only here now"),
            (4, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["docId"]: (r["nTokens"], r["nDupTokens"], r["cleanedText"])
        for r in remove_duplicate_spans(df, min_tokens=5).collect()
    }
    assert got == {
        0: (8, 6, "g h"),          # original case preserved
        1: (9, 6, "x x y"),
        2: (10, 10, ""),           # fully duplicated doc -> empty
        3: (5, 0, "solo words only here now"),
        4: (2, 0, "a b"),
    }


def test_winnow_fingerprints_match_reference_python(spark):
    """Pin the full winnowing pipeline (gram md5, frame min, distinct
    sort, sketch) to an independent pure-python replay; plus the edge
    rows: fewer grams than the frame -> single global-min fingerprint,
    empty text -> md5('') sketch over zero fingerprints."""
    import hashlib

    from genetics_spark_coloc_spark.operators.text import winnow_fingerprints

    texts = {
        0: "the quick brown fox jumps over the lazy dog again and again",
        1: "tiny doc here now yes six",   # 2 grams < window
        2: "",                            # no grams
    }
    k, w = 5, 4
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r["docId"]: (r["nGrams"], r["nFps"], r["fpSketch"])
        for r in winnow_fingerprints(df, k=k, window=w).collect()
    }

    def expect(text):
        toks = text.lower().split()
        grams = [
            " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 0))
        ]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if len(hs) >= w:
            sel = [min(hs[j : j + w]) for j in range(len(hs) - w + 1)]
        elif hs:
            sel = [min(hs)]
        else:
            sel = []
        fps = sorted(set(sel))
        return (
            len(hs),
            len(fps),
            hashlib.md5("|".join(fps).encode()).hexdigest(),
        )

    assert got == {i: expect(t) for i, t in texts.items()}
    assert got[2][2] == hashlib.md5(b"").hexdigest()


def test_winnow_shared_long_substring_guarantees_common_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. 2003 Thm): any shared
    run of >= window + k - 1 tokens yields at least one common
    selected fingerprint. Checked by replaying selection per doc and
    intersecting — two docs embedding the same 8-token run in
    different random contexts must intersect."""
    import hashlib
    import random

    rng = random.Random(11)
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    k, w = 5, 4

    def sel_set(text):
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    for trial in range(5):
        left = " ".join(
            [f"l{rng.randint(0, 9)}{i}" for i in range(10)] + [shared]
        )
        right = " ".join(
            [shared] + [f"r{rng.randint(0, 9)}{i}" for i in range(10)]
        )
        assert sel_set(left) & sel_set(right), trial


def test_winnow_fingerprints_runs_on_streams(spark, tmp_path):
    """winnow_fingerprints is a stateless per-row projection, so it
    runs UNCHANGED on a readStream — certified by exact batch
    replay, like gopher_quality above."""
    from genetics_spark_coloc_spark.operators.text import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    batch = {
        r.docId: tuple(r)[1:]
        for r in winnow_fingerprints(docs, k=5, window=4).collect()
    }
    src = str(tmp_path / "docs_winnow")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        winnow_fingerprints(stream, k=5, window=4)
        .writeStream.format("memory")
        .queryName("winnow_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.docId: tuple(r)[1:]
        for r in spark.sql("select * from winnow_out").collect()
    }
    assert got == batch


def test_winnow_candidate_pairs_match_python_replay(spark):
    """Pair counts equal the intersection sizes of per-doc selected
    fingerprint sets replayed in pure python; pairs with empty
    intersection never appear; min_shared filters."""
    import hashlib
    from itertools import combinations

    from genetics_spark_coloc_spark.operators.text import winnow_candidate_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    texts = {
        0: f"one two three four five {shared}",
        1: f"{shared} six seven eight nine ten",
        2: f"eleven twelve {shared} thirteen fourteen",
        3: "totally unrelated words in this document here",
        4: "",
    }
    k, w = 5, 4

    def sel_set(text):
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 0))]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        if len(hs) >= w:
            return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
        return {min(hs)} if hs else set()

    sets = {i: sel_set(t) for i, t in texts.items()}
    want = {
        (a, b): len(sets[a] & sets[b])
        for a, b in combinations(sorted(texts), 2)
        if sets[a] & sets[b]
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["leftId"], r["rightId"]): r["nSharedFps"]
        for r in winnow_candidate_pairs(df, k=k, window=w).collect()
    }
    assert got == want
    assert all((a, 3) not in got and (3, b) not in got for a in range(3) for b in range(4, 5))
    got2 = {
        (r["leftId"], r["rightId"]): r["nSharedFps"]
        for r in winnow_candidate_pairs(df, k=k, window=w, min_shared=2).collect()
    }
    assert got2 == {p: c for p, c in want.items() if c >= 2}


def test_bm25_scores_match_python_replay(spark):
    """Okapi BM25 against an independent python implementation:
    per-term idf/tf saturation, document-length normalisation, the
    match-at-least-one-term filter, and case-insensitivity."""
    import math

    from genetics_spark_coloc_spark.operators.text import bm25_scores

    texts = {
        0: "Spark hash join beats sort merge join here",
        1: "vector search with hash buckets",
        2: "nothing relevant at all in this one",
        3: "join join join join",
        4: "",
    }
    q = ["hash", "join", "vector"]
    k1, b = 1.2, 0.75
    tfs = {
        i: {t: texts[i].lower().split().count(t) for t in q} for i in texts
    }
    dls = {i: len(texts[i].split()) for i in texts}
    n = len(texts)
    avgdl = sum(dls.values()) / n
    dfq = {t: sum(1 for i in texts if tfs[i][t] > 0) for t in q}

    def score(i):
        s = 0.0
        for t in q:
            tf = tfs[i][t]
            idf = math.log(1 + (n - dfq[t] + 0.5) / (dfq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        return round(s, 6)

    want = {
        i: (dls[i], score(i))
        for i in texts
        if any(tfs[i][t] > 0 for t in q)
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["docId"]: (r["dl"], r["score"])
        for r in bm25_scores(df, q, k1=k1, b=b).collect()
    }
    assert set(got) == set(want) == {0, 1, 3}
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 1e-6, (i, got[i], want[i])


def test_rrf_fuse_hand_computed(spark):
    """RRF semantics: score = sum 1/(k0+rank) over lists containing
    the doc; docs in both lists outrank single-list docs with worse
    ranks; ties break by docId."""
    from genetics_spark_coloc_spark.operators.text import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "docId long, rank long"
    )
    b = spark.createDataFrame(
        [(12, 1), (13, 2), (10, 3)], "docId long, rank long"
    )
    got = {
        r["docId"]: (r["nLists"], r["rrfScore"], r["fusedRank"])
        for r in rrf_fuse([a, b], k0=60).collect()
    }
    want_scores = {
        10: round(1 / 61 + 1 / 63, 6),
        11: round(1 / 62, 6),
        12: round(1 / 63 + 1 / 61, 6),
        13: round(1 / 62, 6),
    }
    assert {d: s for d, (_, s, _) in got.items()} == want_scores
    # 10 and 12 tie exactly -> docId ascending; 11/13 tie -> docId
    assert [d for d, (_, _, r) in sorted(got.items(), key=lambda kv: kv[1][2])] == [
        10, 12, 11, 13
    ]
    assert got[10][0] == 2 and got[11][0] == 1


def test_truncate_embeddings_prefix_and_edges(spark):
    from genetics_spark_coloc_spark.operators.similarity import (
        truncate_embeddings,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0]),
            (1, [5.0, 6.0]),   # shorter than dims -> whole vector
            (2, None),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["embedding"]
        for r in truncate_embeddings(df, dims=3).collect()
    }
    assert got == {0: [1.0, 2.0, 3.0], 1: [5.0, 6.0], 2: None}


def test_bpe_merge_tokens_chain_semantics(spark):
    """Leftmost-first non-overlapping BPE merge, including the
    pa == pb run case ('a a a' -> ['a a', 'a']), even runs, merges
    at boundaries, and no-op docs; plus a second round applied on top
    of first-round symbols."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import bpe_merge_tokens

    def run(tokens_list, pa, pb):
        df = spark.createDataFrame([(tokens_list,)], "t array<string>")
        return df.select(
            bpe_merge_tokens(F.col("t"), F.lit(pa), F.lit(pb)).alias("m")
        ).collect()[0]["m"]

    assert run(["a", "b", "c"], "a", "b") == ["a b", "c"]
    assert run(["a", "a", "a"], "a", "a") == ["a a", "a"]
    assert run(["a", "a", "a", "a"], "a", "a") == ["a a", "a a"]
    assert run(["x", "a", "b", "a", "b"], "a", "b") == ["x", "a b", "a b"]
    assert run(["a", "b", "b"], "a", "b") == ["a b", "b"]
    assert run(["c", "d"], "a", "b") == ["c", "d"]
    assert run([], "a", "b") == []
    # round 2: the merged symbol is the left partner of a new pair
    first = run(["t1", "t2", "x"], "t1", "t2")
    assert first == ["t1 t2", "x"]
    assert run(first, "t1 t2", "x") == ["t1 t2 x"]
    # and a symbol can be the right partner too
    assert run(["y", "t1 t2"], "y", "t1 t2") == ["y t1 t2"]


def test_apply_top_bpe_merge_rewrites_with_corpus_winner(spark):
    """The broadcast winner is the corpus-wide top pair; every
    occurrence is rewritten, other docs pass through."""
    from genetics_spark_coloc_spark.operators.text import apply_top_bpe_merge

    df = spark.createDataFrame(
        [
            (0, "big data big data big data"),
            (1, "data big here"),
            (2, "unrelated words"),
        ],
        "doc_id long, text string",
    )
    # pairs: (big,data) x3, (data,big) x3 -> tie broken 'big data' < 'data big'
    out = {}
    for r in apply_top_bpe_merge(df).collect():
        out.setdefault(r["docId"], []).append((r["pos"], r["symbol"]))
    docs = {i: [s for _, s in sorted(v)] for i, v in out.items()}
    assert docs[0] == ["big data", "big data", "big data"]
    assert docs[1] == ["data", "big", "here"]
    assert docs[2] == ["unrelated", "words"]


def test_exact_dedup_keep_best_argmax_and_null_scores(spark):
    """Highest score wins; score ties break to smallest id; a group of
    all-null scores keeps its smallest id with null keeperScore."""
    from genetics_spark_coloc_spark.operators.dedup import (
        exact_dedup_keep_best,
    )

    df = spark.createDataFrame(
        [
            (1, "same text", 0.2),
            (2, "same text", 0.9),       # winner
            (3, "same text", 0.9),       # tie -> 2 still wins (smaller id)
            (4, "other", None),
            (5, "other", None),          # all-null group -> keeper 4
            (6, "third", 0.5),
            (7, "mixed nulls", None),
            (8, "mixed nulls", 0.1),     # real score beats null
            (9, "nan group", float("nan")),
            (10, "nan group", 0.3),      # real score beats NaN
            (11, "all nan", float("nan")),
            (12, "all nan", float("nan")),  # keeper 11, null score
            (13, "neg inf", float("-inf")),
            (14, "neg inf", float("-inf")),  # keeper 13, score IS -inf
        ],
        "doc_id long, text string, score double",
    )
    got = {
        r["keeperId"]: (r["keeperScore"], r["nCopies"])
        for r in exact_dedup_keep_best(df, "text", "doc_id", "score").collect()
    }
    assert got == {
        2: (0.9, 3),
        4: (None, 2),
        6: (0.5, 1),
        8: (0.1, 2),
        10: (0.3, 2),
        11: (None, 2),
        13: (float("-inf"), 2),
    }


def test_winnow_xxhash64_path_keeps_guarantee(spark):
    """hash_fn='xxhash64' selects different fingerprints (different
    hash ordering) but the winnowing guarantee is hash-independent:
    docs sharing a >= window+k-1 token run must still pair; gram
    counts are identical across hash functions."""
    from genetics_spark_coloc_spark.operators.text import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    texts = {
        0: f"one two three four five {shared}",
        1: f"{shared} six seven eight nine ten",
        2: "totally unrelated words in this document here",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = {
        (r["leftId"], r["rightId"])
        for r in winnow_candidate_pairs(df, hash_fn="xxhash64").collect()
    }
    assert (0, 1) in pairs
    md = {r["docId"]: r for r in winnow_fingerprints(df).collect()}
    xx = {r["docId"]: r for r in winnow_fingerprints(df, hash_fn="xxhash64").collect()}
    for i in texts:
        assert md[i]["nGrams"] == xx[i]["nGrams"]
        assert xx[i]["nFps"] >= 1
    import pytest

    with pytest.raises(ValueError):
        winnow_fingerprints(df, hash_fn="sha1")


def test_vocab_coverage_hand_computed(spark):
    from genetics_spark_coloc_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [
            (0, "the cat SAT on the mat"),   # case-insensitive
            (1, "unknown words only"),
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("on",), ("mat",), ("sat",)], "term string"
    )
    got = {
        r["docId"]: (r["nTokens"], r["nOov"], r["oovRate"])
        for r in vocab_coverage(docs, vocab).collect()
    }
    assert got == {
        0: (6, 0, 0.0),
        1: (3, 3, 1.0),
        2: (0, 0, 0.0),
        3: (0, 0, 0.0),
    }


def test_corpus_stats_by_source_hand_computed(spark):
    from genetics_spark_coloc_spark.operators.text import (
        corpus_stats_by_source,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b a", "web"),
            (1, "a c", "web"),
            (2, "x x x x", "books"),
            (3, "", "empty_src"),
            (4, None, "empty_src"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (
            r["nDocs"],
            r["nTokens"],
            r["nDistinctTokens"],
            r["typeTokenRatio"],
            r["meanDocTokens"],
        )
        for r in corpus_stats_by_source(docs).collect()
    }
    assert got == {
        "web": (2, 5, 3, 0.6, 2.5),
        "books": (1, 4, 1, 0.25, 4.0),
        "empty_src": (2, 0, 0, 0.0, 0.0),
    }


def test_winnow_similarity_identical_docs_score_one(spark):
    """Identical docs share every fingerprint -> Jaccard 1.0; docs
    with partial overlap land strictly between 0 and 1; the score
    matches the set-Jaccard of the python-replayed selections."""
    import hashlib

    from genetics_spark_coloc_spark.operators.text import winnow_similarity

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    texts = {
        0: f"one two three four five {shared}",
        1: f"one two three four five {shared}",    # identical to 0
        2: f"{shared} six seven eight nine ten",   # partial overlap
    }
    k, w = 5, 4

    def sel_set(text):
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    sets = {i: sel_set(t) for i, t in texts.items()}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["leftId"], r["rightId"]): (r["nSharedFps"], r["fpJaccard"])
        for r in winnow_similarity(df, k=k, window=w).collect()
    }
    for (a, b), (n, j) in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert n == inter
        assert abs(j - round(inter / union, 6)) < 1e-9
    assert got[(0, 1)][1] == 1.0
    assert 0.0 < got[(0, 2)][1] < 1.0


def test_vocab_coverage_runs_stream_static(spark, tmp_path):
    """vocab_coverage over a STREAMING corpus against a STATIC
    vocabulary — a stream-static left join + per-doc aggregate is not
    append-safe, so the streaming twin scores each micro-batch doc via
    the same join in update-free per-row form: certified by exact
    batch parity on the same rows."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import tokens, vocab_coverage

    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "dog runs far"), (2, "")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("dog",)], "term string")
    want = {
        r["docId"]: (r["nTokens"], r["nOov"], r["oovRate"])
        for r in vocab_coverage(docs, vocab).collect()
    }
    src = str(tmp_path / "docs_vc")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    vocab_terms = {r["term"] for r in vocab.distinct().collect()}
    vocab_arr = F.array(*[F.lit(t) for t in sorted(vocab_terms)])
    toks = tokens(F.lower(F.col("text")))
    per_row = stream.select(
        F.col("doc_id").alias("docId"),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("nTokens"),
        F.coalesce(
            F.size(F.filter(toks, lambda t: ~F.array_contains(vocab_arr, t))),
            F.lit(0),
        )
        .cast("long")
        .alias("nOov"),
    ).select(
        "docId",
        "nTokens",
        "nOov",
        F.when(
            F.col("nTokens") > 0, F.round(F.col("nOov") / F.col("nTokens"), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("oovRate"),
    )
    q = (
        per_row.writeStream.format("memory")
        .queryName("vc_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["docId"]: (r["nTokens"], r["nOov"], r["oovRate"])
        for r in spark.sql("select * from vc_out").collect()
    }
    assert got == want


def test_mrl_funnel_with_full_shortlist_equals_exact(spark):
    """When the shortlist covers the whole corpus, the funnel's
    ranking must equal a numpy brute-force full-dimension cosine
    top-k; with a tight shortlist it returns a subset-ranking of the
    shortlist."""
    import numpy as np

    from genetics_spark_coloc_spark.operators.similarity import mrl_funnel_topk
    from test_pq import brute_topk

    rng = np.random.RandomState(17)
    mat = rng.randn(30, 8)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter("vec_id < 3")
    exact = brute_topk(range(30), mat, [0, 1, 2], 5, "cosine")
    funnel_all = sorted(
        tuple(r)
        for r in mrl_funnel_topk(
            df, q, shortlist_dims=8, shortlist_k=29, k=5
        ).collect()
    )
    assert funnel_all == exact
    tight = mrl_funnel_topk(df, q, shortlist_dims=4, shortlist_k=10, k=5)
    rows = tight.collect()
    assert {r["queryId"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 5 for r in rows)


def test_hamming_topk_matches_python_replay_and_correlates_angle(spark):
    """Signature xor popcount equals a python replay of the md5-plane
    projections; near-identical vectors land at Hamming rank 1."""
    import hashlib

    import numpy as np

    from genetics_spark_coloc_spark.operators.similarity import (
        binary_signatures,
        hamming_topk,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(10, 16)
    # vec 10..19: tiny perturbations of vec 0..9
    mat = np.vstack([base, base + rng.randn(10, 16) * 1e-6])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    sigs = binary_signatures(df, num_planes=32, dim=16)
    got_sigs = {r["vid"]: r["signature"] for r in sigs.collect()}

    def sign(p, d):
        return 1.0 if hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0] in "02468ace" else -1.0

    planes = np.array([[sign(p, d) for d in range(16)] for p in range(32)])
    for i in range(20):
        proj = planes @ mat[i]
        want = sum(1 << r for r in range(32) if proj[r] > 0)
        assert got_sigs[i] == want, i
    top = {
        r["queryId"]: r["neighborId"]
        for r in hamming_topk(sigs, sigs.filter("vid < 10"), k=1).collect()
    }
    # each query's nearest signature is its perturbed twin
    assert top == {i: i + 10 for i in range(10)}


def test_weighted_sample_matches_replay_and_biases_by_weight(spark):
    """Keys replay exactly in python (md5 uniform -> u^(1/w)); zero/
    null weights are excluded; across many salts the heavy item is
    sampled into a size-1 sample far more often than a light one
    (A-Res correctness, statistically)."""
    import hashlib

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.text import weighted_sample

    df = spark.createDataFrame(
        [(0, 10.0), (1, 1.0), (2, 0.0), (3, None)],
        "doc_id long, w double",
    )

    def u(salt, i):
        return int(hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:8], 16) / 16**8

    got = {
        r["docId"]: r["sampleKey"]
        for r in weighted_sample(df, F.col("w"), n=10, salt="s0").collect()
    }
    assert set(got) == {0, 1}
    for i, w in [(0, 10.0), (1, 1.0)]:
        assert abs(got[i] - round(u("s0", i) ** (1.0 / w), 12)) < 1e-12
    heavy_wins = 0
    for t in range(40):
        top = weighted_sample(df, F.col("w"), n=1, salt=f"t{t}").collect()[0]
        heavy_wins += top["docId"] == 0
    # P(heavy wins) = 10/11; 40 trials -> expect ~36, demand > 28
    assert heavy_wins > 28, heavy_wins


def _brute_maximal_matches(docs: dict, k: int):
    """Reference maximal verbatim matches in plain Python: every
    canonical pair of positions that starts a maximal >= k-token
    match. docs: {docId: [lowercased tokens]}."""
    out = set()
    ids = sorted(docs)
    for a in ids:
        for b in ids:
            if a > b:
                continue
            ta, tb = docs[a], docs[b]
            for p in range(len(ta)):
                for q in range(len(tb)):
                    if a == b and p >= q:
                        continue
                    if ta[p] != tb[q]:
                        continue
                    # maximal on the left?
                    if p > 0 and q > 0 and ta[p - 1] == tb[q - 1]:
                        continue
                    ln = 0
                    while (
                        p + ln < len(ta)
                        and q + ln < len(tb)
                        and ta[p + ln] == tb[q + ln]
                    ):
                        ln += 1
                    if ln >= k:
                        out.add((a, b, p, q, ln))
    return out


def test_verbatim_match_spans_matches_brute_force(spark):
    """Diagonal-run maximal matches equal the brute-force Python
    oracle on adversarial overlapping-repeat fixtures: a long
    verbatim copy, self-overlapping repeats, and chained short
    matches from different partners (VERDICT r5 task #2)."""
    from genetics_spark_coloc_spark.operators.text import (
        verbatim_match_spans,
    )

    texts = {
        0: "A b c d e f g h i j pad0 pad00",         # 10-token copy src
        1: "zz yy a b c d e f g h i j ww",            # ... and dst
        2: "x x x x x x x x",                         # self-overlap
        3: "p1 p2 p3 p4 p5 p6",                       # chained island
        4: "left4 p1 p2 p3 p4 p5 tail4",              # partner 1
        5: "head5 p2 p3 p4 p5 p6 tail5",              # partner 2
        6: "lone words only here never repeated five",
    }
    docs = {i: t.lower().split() for i, t in texts.items()}
    k = 5
    want = _brute_maximal_matches(docs, k)
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (
            r["leftId"],
            r["rightId"],
            r["leftStart"],
            r["rightStart"],
            r["matchTokens"],
        )
        for r in verbatim_match_spans(df, min_tokens=k).collect()
    }
    assert got == want, (sorted(got - want), sorted(want - got))
    # wide 128-bit keys: identical result, different wire type
    got_wide = {
        (
            r["leftId"],
            r["rightId"],
            r["leftStart"],
            r["rightStart"],
            r["matchTokens"],
        )
        for r in verbatim_match_spans(df, min_tokens=k, wide_keys=True).collect()
    }
    assert got_wide == want


def test_verbatim_match_spans_brute_force_randomized(spark):
    """Property check on a randomized corpus with planted repeats:
    operator == brute force for every seed."""
    import random

    from genetics_spark_coloc_spark.operators.text import (
        verbatim_match_spans,
    )

    k = 3
    for seed in (1, 7, 23):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(6)]  # tiny vocab -> collisions
        texts = {}
        for i in range(5):
            n = rng.randint(4, 14)
            texts[i] = " ".join(rng.choice(vocab) for _ in range(n))
        docs = {i: t.split() for i, t in texts.items()}
        want = _brute_maximal_matches(docs, k)
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        got = {
            (
                r["leftId"],
                r["rightId"],
                r["leftStart"],
                r["rightStart"],
                r["matchTokens"],
            )
            for r in verbatim_match_spans(df, min_tokens=k).collect()
        }
        assert got == want, (seed, sorted(got - want), sorted(want - got))


def test_duplicate_span_lengths_discriminates_copy_vs_chain(spark):
    """The Lee et al. discrimination VERDICT r5 asked for: a long
    verbatim copy scores maxMatchTokens == spanTokens, while an
    island chained from unrelated short matches scores spanTokens
    large but maxMatchTokens == k."""
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_span_lengths,
    )

    texts = {
        0: "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10",          # 10-token copy
        1: "pre c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 post",
        3: "p1 p2 p3 p4 p5 p6",                        # chained island
        4: "l4a l4b p1 p2 p3 p4 p5 t4",                # partner 1
        5: "h5 p2 p3 p4 p5 p6 t5a t5b",                # partner 2
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    rows = {
        (r["docId"], r["spanStart"]): r
        for r in duplicate_span_lengths(df, min_tokens=5).collect()
    }
    # the 10-token copy: island == match
    r0 = rows[(0, 0)]
    assert r0["spanTokens"] == 10 and r0["maxMatchTokens"] == 10
    r1 = rows[(1, 1)]
    assert r1["spanTokens"] == 10 and r1["maxMatchTokens"] == 10
    # the chained island: 6 tokens wide, but no verbatim run > 5
    r3 = rows[(3, 0)]
    assert r3["spanTokens"] == 6 and r3["maxMatchTokens"] == 5


def test_verbatim_match_max_gram_freq_caps_pairing(spark):
    """Grams above the frequency cap are excluded from pairing:
    matches that only exist through hot grams disappear, and islands
    they explained report null maxMatchTokens (documented trade)."""
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_span_lengths,
        verbatim_match_spans,
    )

    # one 5-gram shared by 4 docs (freq 4)
    texts = {i: f"u{i} hot1 hot2 hot3 hot4 hot5 v{i}" for i in range(4)}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    full = verbatim_match_spans(df, min_tokens=5).collect()
    assert len(full) == 6  # C(4,2) doc pairs
    capped = verbatim_match_spans(df, min_tokens=5, max_gram_freq=3).collect()
    assert capped == []
    spans = duplicate_span_lengths(df, min_tokens=5, max_gram_freq=3).collect()
    assert len(spans) == 4
    assert all(r["maxMatchTokens"] is None for r in spans)


def test_wide_keys_parity_dup_ngram_and_spans(spark):
    """wide_keys=True (two-salt 128-bit struct keys) must produce
    byte-identical results to the 64-bit default on collision-free
    inputs — the key width changes the wire format, never the
    answer."""
    from genetics_spark_coloc_spark.operators.text import (
        duplicate_ngram_coverage,
        duplicate_spans,
    )

    texts = {
        0: "a b c d e f g h i j",
        1: "x a b c d e f y z w",
        2: "totally different words here that never repeat at all",
        3: "",  # short-doc marker path
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    for fn in (duplicate_spans, duplicate_ngram_coverage):
        narrow = sorted(map(tuple, fn(df).collect()))
        wide = sorted(map(tuple, fn(df, wide_keys=True).collect()))
        assert narrow == wide, fn.__name__


def test_connected_components_segment_schedule(spark):
    """The distributed loop labels every shape (chain, clique, pair,
    isolated vertex) with its component minimum, and its propagation
    count follows the one schedule: 2 propagations in the first
    segment, 4 in each later one."""
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
    )

    verts = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edges = spark.createDataFrame(
        # chain 0-1-2-3-4-5, clique 6-7-8, pair 9-10; 11 isolated
        [(i, i + 1) for i in range(5)]
        + [(6, 7), (7, 8), (6, 8), (9, 10)],
        "leftId long, rightId long",
    )
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            verts,
            edges,
            num_rounds=4,
            stats_out=stats,
            small_graph_edges=0,
        ).collect()
    }
    assert stats["converged"]
    assert 2 <= stats["propagations"] <= 2 + (stats["rounds"] - 1) * 4
    want = {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 6, 8: 6, 9: 9, 10: 9, 11: 11}
    assert got == want


def test_remove_verbatim_matches_policy(spark):
    """ExactSubstr policy: only long verbatim copies are cut; short
    duplicated islands survive (unlike remove_duplicate_spans), and
    EVERY occurrence of the long copy goes."""
    from genetics_spark_coloc_spark.operators.text import (
        remove_duplicate_spans,
        remove_verbatim_matches,
    )

    long_copy = " ".join(f"c{i}" for i in range(12))
    texts = {
        0: f"head0 {long_copy} tail0",
        1: f"pre1 pre2 {long_copy} post1",
        2: "s1 s2 s3 s4 s5 end2",       # short 5-gram dup with doc 3
        3: "s1 s2 s3 s4 s5 end3",
        4: "unique words that never repeat anywhere at all ok",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = {
        r["docId"]: r
        for r in remove_verbatim_matches(df, min_match_tokens=10).collect()
    }
    # the 12-token copy is cut from BOTH docs
    assert out[0]["cleanedText"] == "head0 tail0"
    assert out[0]["nDupTokens"] == 12
    assert out[1]["cleanedText"] == "pre1 pre2 post1"
    # the short 5-token dup survives this policy...
    assert out[2]["cleanedText"] == texts[2]
    assert out[2]["nDupTokens"] == 0
    assert out[4]["cleanedText"] == texts[4]
    # ...but not the island-level one
    island = {
        r["docId"]: r for r in remove_duplicate_spans(df).collect()
    }
    assert island[2]["nDupTokens"] == 5


def test_remove_verbatim_matches_overlapping_coverage(spark):
    """Overlapping matches must not double-count removed tokens:
    nDupTokens is recomputed from kept tokens, not summed spans."""
    from genetics_spark_coloc_spark.operators.text import (
        remove_verbatim_matches,
    )

    # doc 0 shares tokens 0..9 with doc 1 and tokens 5..14 with doc 2
    a = [f"w{i}" for i in range(15)]
    texts = {
        0: " ".join(a),
        1: " ".join(a[0:10]) + " x1 x2",
        2: "y1 y2 " + " ".join(a[5:15]),
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = {
        r["docId"]: r
        for r in remove_verbatim_matches(df, min_match_tokens=10).collect()
    }
    # doc 0 loses ALL 15 tokens (two overlapping 10-token matches)
    assert out[0]["nDupTokens"] == 15 and out[0]["cleanedText"] == ""
    assert out[1]["nDupTokens"] == 10 and out[1]["cleanedText"] == "x1 x2"
    assert out[2]["nDupTokens"] == 10 and out[2]["cleanedText"] == "y1 y2"


def test_simhash_near_dup_pairs_pigeonhole(spark):
    """Manku et al. banded pairs: near-identical docs pair with small
    Hamming distance; at radius <= bands-1 recall is EXACT (verified
    against a brute-force all-pairs Hamming scan); unrelated docs
    beyond the radius are excluded."""
    from genetics_spark_coloc_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        0: base,
        1: base + " extra",             # tiny perturbation
        2: base.replace("gamma", "gaga"),
        3: "wholly different content nothing shared with the others x y z",
        4: base,                        # exact dup of 0 -> hamming 0
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    sigs = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", simhash(F.col("text")).alias("s")).collect()
    }
    brute = set()
    for a in sigs:
        for b in sigs:
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                brute.add((a, b))
    got = {
        (r["leftId"], r["rightId"]): r["hammingDist"]
        for r in simhash_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert set(got) == brute  # pigeonhole-exact at radius bands-1
    assert got[(0, 4)] == 0
    for (a, b), h in got.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="32 bits"):
        df.select(simhash(F.col("text"), bits=64)).collect()


def test_bpe_train_merges_vs_bruteforce(spark):
    """3-round iterative trainer equals a sequential reference BPE
    (count pairs -> leftmost-first rewrite -> repeat) on a fixture
    engineered so later winners only exist AFTER earlier merges:
    round 1 merges (a,a), round 2's top pair involves the 'a a'
    symbol created by round 1."""
    from genetics_spark_coloc_spark.operators.text import bpe_train_merges

    texts = [
        "a a b a a b a a b",
        "a a a a b",
        "c a a b c",
        "x y x y",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")

    def brute(corpus, n):
        corpus = [t.split() for t in corpus]
        merges = []
        for _ in range(n):
            counts = {}
            for toks in corpus:
                for i in range(len(toks) - 1):
                    p = (toks[i], toks[i + 1])
                    counts[p] = counts.get(p, 0) + 1
            # tie-break on the JOINED pair string, matching the
            # operator and its SQL oracle (tuple order differs once
            # symbols contain the ' ' joiner)
            (pa, pb), c = min(
                counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
            )
            merges.append((f"{pa} {pb}", c))
            new_corpus = []
            for toks in corpus:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == pa and toks[i + 1] == pb:
                        out.append(f"{pa} {pb}")
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                new_corpus.append(out)
            corpus = new_corpus
        return merges

    expected = brute(texts, 3)
    got = [
        (r["pair"], r["pairCount"])
        for r in bpe_train_merges(df, n_merges=3).orderBy("mergeRank").collect()
    ]
    assert got == expected
    # materialized variant is identical
    got_m = [
        (r["pair"], r["pairCount"])
        for r in bpe_train_merges(df, n_merges=3, materialize_rounds=True)
        .orderBy("mergeRank").collect()
    ]
    assert got_m == expected


def test_zorder_key_matches_python_interleave(spark):
    """The Column build equals an independent per-row Python Morton
    interleave, including mask wrap of overwide inputs."""
    from genetics_spark_coloc_spark.functions.zorder import zorder_key

    vals = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (65536, 1), (70000, 123)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn(
            "z", zorder_key([F.col("a"), F.col("b")], bits=16)
        ).collect()
    }

    def morton(a, b, bits=16):
        a &= (1 << bits) - 1
        b &= (1 << bits) - 1
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b)


def test_zorder_layout_bounds_every_dimension(spark):
    """On a 64x64 grid split into 16 range partitions, Z-order
    layout yields ~16x16 tiles (BOTH dims locally bounded), while an
    x-only sort leaves y spanning the full domain — the min/max
    data-skipping story, measured."""
    from genetics_spark_coloc_spark.functions.zorder import zorder_layout

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )

    def mean_spans(d):
        rows = (
            d.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        return (
            sum(r["sx"] for r in rows) / len(rows),
            sum(r["sy"] for r in rows) / len(rows),
        )

    zx, zy = mean_spans(zorder_layout(df, [F.col("x"), F.col("y")], 16, bits=6))
    lx, ly = mean_spans(
        df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x")
    )
    assert ly > 60  # linear layout: y is unbounded inside every partition
    assert zx <= 24 and zy <= 24  # Z-order: both dims tile-bounded
    assert zy < ly / 2


def test_quantize_fixed_clamps_and_grids(spark):
    from genetics_spark_coloc_spark.functions.zorder import quantize_fixed

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (0.5,), (0.999,), (1.0,), (7.0,)], "v double"
    )
    got = [
        r["q"]
        for r in df.select(
            quantize_fixed(F.col("v"), 0.0, 1.0, bits=4).alias("q")
        ).collect()
    ]
    assert got == [0, 0, 8, 15, 15, 15]


def test_nb_train_score_vs_bruteforce(spark):
    """Train + argmax-score equals a hand-rolled Python multinomial
    NB (Laplace alpha=1) on a fixture with unseen tokens, repeated
    tokens, an empty doc, and a score tie broken by label order."""
    import math

    from genetics_spark_coloc_spark.operators.nb import (
        nb_priors,
        nb_score,
        nb_train,
    )

    rows = [
        (0, "spam spam eggs", "a"),
        (1, "spam eggs ham", "a"),
        (2, "ham ham toast", "b"),
        (3, "toast eggs", "b"),
        (4, "", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    train = {(lab, t) for _, txt, lab in rows for t in txt.split()}
    vocab = {t for _, txt, lab in rows for t in txt.split()}
    cnt, lab_tot, docs_per = {}, {}, {}
    for _, txt, lab in rows:
        docs_per[lab] = docs_per.get(lab, 0) + 1
        for t in txt.split():
            cnt[(lab, t)] = cnt.get((lab, t), 0) + 1
            lab_tot[lab] = lab_tot.get(lab, 0) + 1
    V = len(vocab)

    def lik(lab, t):
        return math.log(
            (cnt.get((lab, t), 0) + 1.0) / (lab_tot[lab] + V)
        )

    n, L = len(rows), len(docs_per)

    def prior(lab):
        return math.log((docs_per[lab] + 1.0) / (n + L))

    model = nb_train(df)
    priors = nb_priors(df)
    got = {
        r["docId"]: (r["label"], r["score"])
        for r in nb_score(df, model, priors).collect()
    }
    for doc_id, txt, _ in rows:
        toks = txt.split()
        if not toks:
            assert doc_id not in got  # empty docs produce no tokens
            continue
        scores = {
            lab: round(prior(lab) + sum(lik(lab, t) for t in toks), 6)
            for lab in docs_per
        }
        best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[doc_id] == best, (doc_id, got[doc_id], best)

    # model log-liks are the closed form
    m = {(r["label"], r["token"]): r["logLik"] for r in model.collect()}
    assert set(m) == train
    for (lab, t), ll in m.items():
        assert abs(ll - lik(lab, t)) < 1e-12


def test_streaming_nb_route_matches_batch(spark, tmp_path):
    """Replaying the documents table through the stateless streaming
    NB router reproduces batch nb_score's (docId, label, score) rows
    exactly — same tokenization, same floors, same rounded tie-break."""
    from genetics_spark_coloc_spark.operators.nb import (
        nb_priors,
        nb_score,
        nb_train,
    )
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_nb_route,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    model = nb_train(docs)
    priors = nb_priors(docs)
    batch = {
        r.docId: (r.label, r.score) for r in nb_score(docs, model, priors).collect()
    }
    assert len(batch) > 100

    src = str(tmp_path / "doc_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_nb_route(stream, model, priors)
        .writeStream.format("memory")
        .queryName("nb_route_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.docId: (r.label, r.score)
        for r in spark.sql("select * from nb_route_out").collect()
    }
    assert got == batch


def test_dsir_weights_vs_bruteforce(spark):
    """DSIR importance weights match a direct Python computation of
    the add-one-smoothed hashed-unigram log ratio (Xie et al. 2023),
    and documents drawn from the target domain score higher on
    average than off-domain documents."""
    import hashlib
    import math

    from genetics_spark_coloc_spark.operators.text import (
        dsir_importance_weights,
    )

    rows = [
        (0, "alpha beta alpha gamma", "en"),
        (1, "alpha beta beta", "en"),
        (2, "delta epsilon zeta delta", "fr"),
        (3, "alpha gamma", "fr"),
        (4, "", "en"),
        (5, None, "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B, alpha = 64, 1.0
    got = {
        r["docId"]: (r["nTokens"], r["logWeight"])
        for r in dsir_importance_weights(
            df, F.col("lang") == "en", n_buckets=B, alpha=alpha
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    raw, tgt = {}, {}
    per_doc = {}
    for did, text, lang in rows:
        toks = (text or "").lower().split()
        per_doc[did] = toks
        for t in toks:
            b = bucket(t)
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    NR, NT = sum(raw.values()), sum(tgt.values())
    for did, text, lang in rows:
        toks = per_doc[did]
        lw = sum(
            math.log((tgt.get(bucket(t), 0) + alpha) / (NT + alpha * B))
            - math.log((raw.get(bucket(t), 0) + alpha) / (NR + alpha * B))
            for t in toks
        )
        n_got, lw_got = got[did]
        assert n_got == len(toks)
        assert abs(lw_got - round(lw, 6)) < 1e-6, (did, lw_got, lw)
    # the en-only vocabulary (doc 1's beta-heavy bag) must outscore
    # the fr-only vocabulary (doc 2) — that is the point of DSIR
    assert got[1][1] > got[2][1]


def test_global_line_dedup_keeps_first_occurrence_only(spark):
    """C4-style global span dedup: each duplicated line survives
    exactly once, at its smallest (docId, pos); intra-doc repeats
    after the first are removed too; order is preserved."""
    from genetics_spark_coloc_spark.operators.text import global_line_dedup

    rows = [
        (10, ["a b", "c d", "a b"]),   # intra-doc repeat of "a b"
        (11, ["c d", "e f"]),          # "c d" already seen in doc 10
        (12, ["e f", "g h", "c d"]),   # both seen
        (13, []),                      # no lines at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    out = {
        r["docId"]: r
        for r in global_line_dedup(df, F.col("lines")).collect()
    }
    assert out[10]["nLines"] == 3 and out[10]["nKept"] == 2
    assert out[10]["cleanedText"] == "a b c d"
    assert out[11]["nLines"] == 2 and out[11]["nKept"] == 1
    assert out[11]["cleanedText"] == "e f"
    assert out[12]["nKept"] == 1 and out[12]["cleanedText"] == "g h"
    assert out[13]["nLines"] == 0 and out[13]["cleanedText"] == ""


def test_shard_plan_balanced_and_deterministic(spark):
    """Round-robin shard fill: sizes differ by at most one, positions
    within a shard are contiguous from 0, the assignment is identical
    across runs, and the two-level distributed rank agrees with a
    brute-force global hash sort."""
    import hashlib

    from genetics_spark_coloc_spark.operators.text import shard_plan

    n, shards = 103, 8
    df = spark.createDataFrame(
        [(i,) for i in range(n)], "doc_id long"
    )
    out = shard_plan(df, n_shards=shards).collect()
    out2 = shard_plan(df, n_shards=shards).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    sizes = {}
    pos = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
        pos.setdefault(r["shard"], []).append(r["posInShard"])
    assert max(sizes.values()) - min(sizes.values()) <= 1
    for s, ps in pos.items():
        assert sorted(ps) == list(range(len(ps)))

    def key(i):
        h = hashlib.md5(f"shuffle-v1|{i}".encode()).hexdigest()[:8]
        return int(h, 16) / float(16**8)

    order = sorted(range(n), key=lambda i: (key(i), i))
    expect = {
        did: (rk % shards, rk // shards) for rk, did in enumerate(order)
    }
    got = {r["docId"]: (r["shard"], r["posInShard"]) for r in out}
    assert got == expect


def test_ahash_signature_and_banded_pairs(spark):
    """aHash bits match a direct Python threshold-against-mean, and
    the banded pigeonhole join returns EXACTLY the pairs within the
    Hamming budget — including a pair at distance exactly 3 (kept)
    and one at distance 4 (dropped), the band-boundary adversary."""
    from genetics_spark_coloc_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        ahash_signature,
    )

    def feats_for_sig(sig, n=16):
        # feature k/256 with k=200 (bit set, above mean) or k=10
        return [(200 if (sig >> i) & 1 else 10) / 256.0 for i in range(n)]

    sigs = {
        1: 0b1010101010101010,
        2: 0b1010101010101001,  # hamming 2 from id 1
        3: 0b1010101010010110,  # hamming 5 from id 1, 5 from id 2
        4: 0b0010101010101010,  # hamming 1 from id 1, 3 from id 2
        5: 0b0101011010101010,  # hamming 4 from id 4
    }
    rows = [(k, feats_for_sig(v)) for k, v in sigs.items()]
    df = spark.createDataFrame(rows, "mediaId long, feature array<float>")
    got_sigs = {r["mediaId"]: r["sig"] for r in ahash_signature(df).collect()}
    assert got_sigs == sigs

    pairs = {
        (r["mediaIdA"], r["mediaIdB"]): r["hamming"]
        for r in ahash_near_dup_pairs(
            ahash_signature(df), n_bits=16, max_hamming=3
        ).collect()
    }
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert pairs == expect
    assert (1, 4) in pairs and pairs[(1, 4)] == 1
    assert (2, 4) in pairs and pairs[(2, 4)] == 3   # boundary kept
    assert (4, 5) not in pairs                      # distance 4 dropped


def test_curation_funnel_stage_verdicts(spark):
    """Each funnel stage flags independently and `kept` is their
    conjunction: a clean long doc passes; a repeated-bigram doc fails
    only repetition; a PII doc fails only the PII gate; the later
    copy of a duplicated text fails only keeper election."""
    from genetics_spark_coloc_spark.operators.text import curation_funnel

    good = (
        "the quick brown fox jumps over a lazy dog and then runs far "
        "away into the green field while birds sing songs about rain "
        "and the sun shines over every hill in the quiet valley today"
    )
    repetitive = ("spam ham " * 40).strip()
    rows = [
        (0, good),
        (1, repetitive),                      # dup-bigram frac ~1
        (2, good + " mail me a9@b.co now"),   # email -> PII fail
        (3, good),                            # duplicate of 0 -> loses keeper
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["docId"]: r for r in curation_funnel(df, min_words=20).collect()}
    assert out[0]["kept"] and all(
        out[0][c] for c in ["passQuality", "passRepetition", "passPii", "isKeeper"]
    )
    assert not out[1]["passRepetition"] and not out[1]["kept"]
    assert out[1]["passPii"]
    assert not out[2]["passPii"] and not out[2]["kept"]
    assert out[2]["passQuality"]
    assert not out[3]["isKeeper"] and not out[3]["kept"]
    assert out[3]["passQuality"] and out[3]["passRepetition"] and out[3]["passPii"]


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir swaps the per-round localCheckpoint for a
    RELIABLE disk checkpoint: identical components, and the round
    tables actually land under the given directory — the local-mode
    escape hatch for giant graphs where in-memory blocks exhaust the
    single driver-side block manager (BASELINE.md r9 100M-edge note)."""
    import os

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.graph import connected_components

    ckpt = str(tmp_path / "cc_ckpt")
    verts = spark.range(30).select(F.col("id").cast("long").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 28, 2)] + [(1, 2)],
        "leftId: long, rightId: long",
    )
    stats: dict = {}
    plain = {
        r["id"]: r["component"]
        for r in connected_components(
            verts, edges, "doc_id", num_rounds=10,
            small_graph_edges=0,
        ).collect()
    }
    disk = {
        r["id"]: r["component"]
        for r in connected_components(
            verts,
            edges,
            "doc_id",
            num_rounds=10,
            checkpoint_dir=ckpt,
            stats_out=stats,
            small_graph_edges=0,
        ).collect()
    }
    assert disk == plain
    assert stats["converged"]
    # the reliable checkpoints were actually written to disk
    written = [
        os.path.join(root, f)
        for root, _, files in os.walk(ckpt)
        for f in files
    ]
    assert written, "no checkpoint files under checkpoint_dir"


def test_streaming_delta_lsh_candidates_matches_batch(spark, tmp_path):
    """Continuous incremental dedup: arriving docs probe the PERSISTED
    band index via a stream-static join (no state store); replaying a
    delta corpus and distinct-ing the emissions reproduces the batch
    incremental_lsh_candidates candidate set exactly, against the
    same ceiling-certified bucketed table."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        load_lsh_band_index,
        lsh_band_index,
    )
    from genetics_spark_coloc_spark.session import write_bucketed
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_delta_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    index = docs.filter(F.col("doc_id") % 2 == 0)
    # null-text docs must vanish on both paths
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .limit(60)
        .unionByName(
            spark.createDataFrame(
                [(98_001, None)], "doc_id long, text string"
            )
        )
    )
    spark.sql("DROP TABLE IF EXISTS band_index_stream_test")
    try:
        write_bucketed(
            lsh_band_index(index),
            "band_index_stream_test",
            ["bandIdx", "bandHash"],
            num_buckets=4,
            sort_cols=["bandIdx", "bandHash"],
        )
        persisted = load_lsh_band_index(spark, "band_index_stream_test")
        batch = {
            (r["deltaId"], r["indexId"])
            for r in incremental_lsh_candidates(
                delta, index_bands=persisted
            ).collect()
        }
        assert batch, "fixture produced no candidates"

        src = str(tmp_path / "delta_stream")
        delta.repartition(2).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_delta_lsh_candidates(stream, persisted)
            .writeStream.format("memory")
            .queryName("delta_stream_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None
        rows = spark.sql("select * from delta_stream_out").collect()
        got = {(r["deltaId"], r["indexId"]) for r in rows}
        assert got == batch
        # per-band emissions are bounded by the band count per pair
        assert len(rows) <= 4 * len(batch)
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_stream_test")


def test_write_bucketed_overwrite_clears_orphaned_location(spark):
    """With an ephemeral metastore, a prior session's managed-table
    directory can survive its catalog entry; overwrite-mode
    write_bucketed must reclaim the location instead of failing with
    LOCATION_ALREADY_EXISTS."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.session import write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan = os.path.join(wh, "bt_orphan_test")
    spark.sql("DROP TABLE IF EXISTS bt_orphan_test")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "leftover.parquet"), "w") as fh:
        fh.write("stale")
    try:
        df = spark.range(100).select(F.col("id").alias("k"))
        write_bucketed(df, "bt_orphan_test", ["k"], num_buckets=2)
        assert spark.table("bt_orphan_test").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_orphan_test")
        shutil.rmtree(orphan, ignore_errors=True)


def test_distribution_drift_psi_properties(spark):
    """PSI invariants: identical snapshots score exactly 0 (no
    alert); a planted shift scores > 0; empty bins on one side take
    the deterministic 1/(2·total) pseudo-mass instead of blowing up
    the logarithm."""
    from pyspark.sql import functions as F

    from genetics_spark_coloc_spark.operators.sketches import (
        distribution_drift_psi,
    )

    base = spark.range(2_000).select((F.col("id") % 100).cast("double").alias("v"))
    same = distribution_drift_psi(
        base, base, F.col("v"), lo=0.0, hi=100.0, n_bins=10
    ).collect()[0]
    assert same["psi"] == 0.0 and not same["driftAlert"]
    assert same["refTotal"] == same["curTotal"] == 2_000

    # shift the current snapshot entirely out of the reference's bins:
    # every bin is empty on one side, exercising the pseudo-mass path
    shifted = base.select((F.col("v") + 50.0).alias("v"))
    drift = distribution_drift_psi(
        base, shifted, F.col("v"), lo=0.0, hi=100.0, n_bins=10
    ).collect()[0]
    assert drift["psi"] > 0.2 and drift["driftAlert"]
    assert drift["nBins"] == 10


def test_perm_window_hash_widens_beyond_nine_perms(spark):
    """num_perm > 9 used to window PAST the 32-hex md5 digest —
    truncated-to-empty high-perm minhashes that co-bucketed every
    document in the last LSH bands. perm_window_hash chains salted
    digests so every window keeps full 8-hex width; num_perm<=9 stays
    bit-identical to the original single-digest form (the
    oracle-certified path)."""
    from genetics_spark_coloc_spark.operators.dedup import (
        minhash_signatures,
        perm_window_hash,
    )
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_band_hashes,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(25))) for i in range(12)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=16)
    # every window full width — no truncated or empty minhashes
    bad = sigs.filter(F.length("minHash") != 8).count()
    assert bad == 0
    assert sigs.count() == 12 * 16
    # distinct docs must not share high-perm minhashes wholesale (the
    # old failure mode: ALL docs identical at perm >= 11)
    top_perm = sigs.filter(F.col("perm") == 15)
    assert top_perm.select("minHash").distinct().count() > 1

    # default path unchanged: single digest, same values as a manual
    # substring of md5 (what the committed SQL oracles replicate)
    eight = minhash_signatures(docs, "text", "doc_id", num_perm=8)
    assert eight.filter(F.length("minHash") != 8).count() == 0

    # streaming banding parity holds at the widened num_perm too
    batch_bands = (
        sigs.withColumn("bandIdx", (F.col("perm") / 4).cast("int"))
        .groupBy("docId", "bandIdx")
        .agg(
            F.md5(
                F.concat_ws("|", F.sort_array(F.collect_list("minHash")))
            ).alias("bandHash")
        )
    )
    stream_bands = streaming_band_hashes(
        docs, num_perm=16, band_size=4
    ).select("docId", "bandIdx", "bandHash")
    sym_diff = batch_bands.exceptAll(stream_bands).count() + stream_bands.exceptAll(
        batch_bands
    ).count()
    assert sym_diff == 0

    with pytest.raises(ValueError, match="num_perm"):
        perm_window_hash(F.col("text"), 0)


def test_write_bucketed_orphan_cleanup_is_database_aware(spark):
    """ADVICE r10: with the session in a NON-default database, the
    overwrite orphan cleanup must (a) never touch a live
    default.<name> table's data at <warehouse>/<name>, and (b) clean
    the real orphan at <warehouse>/<db>.db/<name>."""
    import os
    import shutil

    from genetics_spark_coloc_spark.session import write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    df = spark.range(50).selectExpr("id as k", "id * 2 as v")
    spark.sql("DROP TABLE IF EXISTS default.bt_dbaware_test")
    spark.sql("DROP DATABASE IF EXISTS bt_aux_db CASCADE")
    try:
        # live table in the DEFAULT database
        write_bucketed(df, "bt_dbaware_test", ["k"], num_buckets=2)
        default_loc = os.path.join(wh, "bt_dbaware_test")
        assert os.path.isdir(default_loc)
        spark.sql("CREATE DATABASE bt_aux_db")
        spark.catalog.setCurrentDatabase("bt_aux_db")
        # plant a REAL orphan at the aux db's managed location
        orphan = os.path.join(wh, "bt_aux_db.db", "bt_dbaware_test")
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "leftover"), "w") as fh:
            fh.write("stale")
        # unqualified overwrite while in bt_aux_db: must clean the
        # aux orphan, must NOT touch default's live data
        write_bucketed(df, "bt_dbaware_test", ["k"], num_buckets=2)
        assert spark.table("bt_aux_db.bt_dbaware_test").count() == 50
        assert not os.path.exists(os.path.join(orphan, "leftover"))
        assert spark.table("default.bt_dbaware_test").count() == 50
        assert os.path.isdir(default_loc)
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP TABLE IF EXISTS default.bt_dbaware_test")
        spark.sql("DROP DATABASE IF EXISTS bt_aux_db CASCADE")
        shutil.rmtree(os.path.join(wh, "bt_aux_db.db"), ignore_errors=True)


def test_connected_components_checkpoint_lifecycle(spark, tmp_path):
    """ADVICE r10: eager reliable-checkpoint mode must not accumulate
    one label table on disk per round — superseded round checkpoints
    (and the pinned edge-table checkpoint) are swept as the loop
    advances, leaving exactly ONE rdd dir (the final labels) in the
    per-run subdirectory; the returned DataFrame still reads cleanly
    after every sweep. Two runs against the same root use separate
    cc_* subdirectories."""
    import os

    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
    )

    ckpt = str(tmp_path / "cc_root")
    verts = spark.range(40).select(F.col("id").cast("long").alias("doc_id"))
    # a 20-vertex chain forces several propagate+shortcut rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "leftId: long, rightId: long"
    )
    stats: dict = {}
    out = connected_components(
        verts,
        edges,
        "doc_id",
        num_rounds=12,
        checkpoint_dir=ckpt,
        stats_out=stats,
        small_graph_edges=0,
    )
    # result consumable AFTER the per-round sweeps (files it needs
    # survived), and correct: the chain is one component labelled 0
    got = {r["id"]: r["component"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(20))
    assert all(got[i] == i for i in range(20, 40))
    assert stats["rounds"] >= 2  # the sweep actually had rounds to sweep
    run_dirs = [d for d in os.listdir(ckpt) if d.startswith("cc_")]
    assert len(run_dirs) == 1
    rdd_dirs = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(os.path.join(ckpt, run_dirs[0]))
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) == 1, f"superseded checkpoints not swept: {rdd_dirs}"
    # a second run lands in its OWN subdirectory (no interleaving)
    connected_components(
        verts, edges, "doc_id", num_rounds=12,
        checkpoint_dir=ckpt, small_graph_edges=0,
    ).collect()
    assert len([d for d in os.listdir(ckpt) if d.startswith("cc_")]) == 2


def _cc_labels(df) -> dict:
    return {r["id"]: r["component"] for r in df.collect()}


def test_connected_components_fast_path_leaves_no_checkpoint(spark, tmp_path):
    """With ``checkpoint_dir`` set, the driver fast path (default
    ``small_graph_edges``) builds its labels on the driver, so no
    rdd-* checkpoint dir may remain once it returns."""
    import os

    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
    )

    ckpt = str(tmp_path / "cc_root")
    verts = spark.range(10).select(F.col("id").cast("long").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "leftId: long, rightId: long"
    )
    stats: dict = {}
    out = connected_components(
        verts, edges, "doc_id",
        checkpoint_dir=ckpt, stats_out=stats,
    )
    assert _cc_labels(out) == {i: 0 if i <= 4 else i for i in range(10)}
    assert "small_graph_fast_path_edges" in stats, stats
    rdd_dirs = [
        d for _, dirs, _ in os.walk(ckpt) for d in dirs if d.startswith("rdd-")
    ]
    assert rdd_dirs == [], f"fast path left checkpoints behind: {rdd_dirs}"


def test_connected_components_null_endpoint_string_ids(spark):
    """An edge with a null endpoint connects nothing: the driver fast
    path and the distributed loop both drop it and agree."""
    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
    )

    verts = spark.createDataFrame([("a",), ("e",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), (None, "d"), ("d", None)],
        "leftId string, rightId string",
    )
    want = {"a": "a", "b": "a", "c": "a", "e": "e"}
    stats: dict = {}
    fast = _cc_labels(
        connected_components(verts, edges, stats_out=stats)
    )
    assert "small_graph_fast_path_edges" in stats, stats
    assert fast == want
    slow = _cc_labels(
        connected_components(verts, edges, small_graph_edges=0)
    )
    assert slow == fast


def test_connected_components_null_endpoint_int_ids(spark, monkeypatch):
    """Integer ids: a null endpoint must be filtered in Spark before the
    driver union-find collects the edges (collected, it arrives as a
    NaN that never equals itself and the root walk never ends). The
    wrapper fails fast instead of letting a regression hang."""
    from genetics_spark_coloc_spark.operators import graph

    solve = graph._union_find_labels

    def checked(spark_, sym, id_field):
        nulls = sym.where(F.col("src").isNull() | F.col("dst").isNull()).count()
        assert nulls == 0, "null endpoint reached the driver union-find"
        return solve(spark_, sym, id_field)

    monkeypatch.setattr(graph, "_union_find_labels", checked)
    verts = spark.createDataFrame([(1,), (9,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (None, 4)], "leftId long, rightId long"
    )
    got = _cc_labels(graph.connected_components(verts, edges))
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_edit_distance_verify_planted_cases(spark):
    """Planted edit-distance verification: identical → ratio 1 / dup;
    single-char edit → exact Levenshtein ratio; disjoint → low ratio;
    both-empty → ratio 1 (identical by convention); one-empty →
    ratio 0; edits PAST max_len are invisible (the documented
    truncation cost bound)."""
    from genetics_spark_coloc_spark.operators.dedup import (
        edit_distance_verify,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefgh"),
            (2, "abcdefgh"),
            (3, "abcdefgX"),
            (4, "zzzzzzzz"),
            (5, ""),
            (6, ""),
            (7, "x" * 30 + "TAIL_A"),
            (8, "x" * 30 + "TAIL_B"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6), (1, 5), (7, 8)],
        "leftId long, rightId long",
    )
    out = {
        (r["leftId"], r["rightId"]): (
            r["editDistance"],
            r["editRatio"],
            r["isDup"],
        )
        for r in edit_distance_verify(
            docs, pairs, "text", "doc_id", ratio_threshold=0.8, max_len=30
        ).collect()
    }
    assert out[(1, 2)] == (0, 1.0, True)
    assert out[(1, 3)] == (1, round(1 - 1 / 8, 6), True)
    assert out[(1, 4)][2] is False and out[(1, 4)][1] == 0.0
    assert out[(5, 6)] == (0, 1.0, True)  # both empty: identical
    assert out[(1, 5)] == (8, 0.0, False)  # one empty: fully distant
    # the differing tails sit past max_len=30 — truncation makes the
    # pair identical, the documented O(len^2) cost bound
    assert out[(7, 8)] == (0, 1.0, True)


def test_line_dedup_planted_boilerplate(spark):
    """The production '\\n' form of corpus-frequency line removal:
    a boilerplate footer shared by many docs is dropped everywhere,
    unique content lines survive in order, short common lines are
    protected by min_segment_chars, and a doc that is ALL boilerplate
    rebuilds to the empty string."""
    from genetics_spark_coloc_spark.operators.text import line_dedup

    footer = "subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [
            (1, f"unique first line one\n{footer}\nunique last line one"),
            (2, f"{footer}\nunique middle two\n--"),
            (3, f"unique alpha three\n--\n{footer}"),
            (4, footer),  # all boilerplate
            (5, "entirely unique document five"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["docId"]: (r["nSegments"], r["nDropped"], r["cleanText"])
        for r in line_dedup(
            docs, "text", "doc_id", sep="\n", max_count=1,
            min_segment_chars=10,
        ).collect()
    }
    assert out[1] == (3, 1, "unique first line one\nunique last line one")
    # '--' occurs twice corpus-wide but is SHORTER than
    # min_segment_chars -> protected
    assert out[2] == (3, 1, "unique middle two\n--")
    assert out[3] == (3, 1, "unique alpha three\n--")
    assert out[4] == (1, 1, "")
    assert out[5] == (1, 0, "entirely unique document five")


def test_line_dedup_incremental_against_persisted_frequency_table(spark, tmp_path):
    """Incremental mode: a delta is scrubbed against CORPUS frequency
    evidence, not its own — (a) a line that is boilerplate in the
    reference corpus is dropped from a delta doc even though it
    appears once in the delta; (b) a line repeated WITHIN the delta
    but absent from the table is kept (corpus evidence only); (c)
    freq_table=line_frequency_table(df) reproduces self-counting mode
    exactly."""
    from genetics_spark_coloc_spark.operators.text import (
        line_dedup,
        line_frequency_table,
    )

    footer = "subscribe to our newsletter for updates"
    corpus = spark.createDataFrame(
        [(i, f"corpus unique line {i}\n{footer}") for i in range(20)],
        "doc_id long, text string",
    )
    freq_path = str(tmp_path / "line_freq.parquet")
    line_frequency_table(corpus, "text", sep="\n").write.mode(
        "overwrite"
    ).parquet(freq_path)
    freq = spark.read.parquet(freq_path)

    delta_repeat = "a delta-only line repeated in the delta"
    delta = spark.createDataFrame(
        [
            (100, f"fresh delta content\n{footer}"),
            (101, f"{delta_repeat}\nmore fresh content"),
            (102, f"{delta_repeat}\nother fresh content"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["docId"]: (r["nDropped"], r["cleanText"])
        for r in line_dedup(
            delta, "text", "doc_id", sep="\n", max_count=1, freq_table=freq
        ).collect()
    }
    # (a) corpus boilerplate dropped from the delta
    assert out[100] == (1, "fresh delta content")
    # (b) intra-delta repetition is NOT corpus evidence — kept
    assert out[101] == (0, f"{delta_repeat}\nmore fresh content")
    assert out[102] == (0, f"{delta_repeat}\nother fresh content")

    # (c) self-parity: external table built from the same df ==
    # self-counting mode
    self_mode = line_dedup(corpus, "text", "doc_id", sep="\n").collect()
    table_mode = line_dedup(
        corpus, "text", "doc_id", sep="\n",
        freq_table=line_frequency_table(corpus, "text", sep="\n"),
    ).collect()
    assert sorted(map(tuple, self_mode)) == sorted(map(tuple, table_mode))


def test_streaming_line_dedup_replay_parity(spark, tmp_path):
    """The streaming C4 scrub: replaying a delta corpus through
    streaming_line_dedup in multiple triggers reproduces the batch
    incremental operator exactly — per-doc rebuilds never cross
    documents and frequencies come from the persisted table, so
    trigger slicing cannot change the result."""
    from genetics_spark_coloc_spark.operators.text import (
        line_dedup,
        line_frequency_table,
    )
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_line_dedup,
    )

    footer = "all rights reserved worldwide footer"
    corpus = spark.createDataFrame(
        [(i, f"reference line {i}\n{footer}") for i in range(10)],
        "doc_id long, text string",
    )
    freq_path = str(tmp_path / "stream_line_freq.parquet")
    line_frequency_table(corpus, "text", sep="\n").write.mode(
        "overwrite"
    ).parquet(freq_path)

    delta = spark.createDataFrame(
        [
            (200 + i, f"delta body {i}\n{footer}\ndelta tail {i}")
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "stream_line_src")
    delta.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = []
    writer = streaming_line_dedup(
        stream,
        freq_path,
        on_batch=lambda cleaned, epoch: got.extend(cleaned.collect()),
        sep="\n",
    )
    q = (
        writer.option("checkpointLocation", str(tmp_path / "stream_line_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    batch = line_dedup(
        delta, "text", "doc_id", sep="\n",
        freq_table=spark.read.parquet(freq_path),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    # every delta doc kept its unique lines and lost exactly the footer
    assert all(r["nDropped"] == 1 for r in got)


def test_line_dedup_freq_table_with_appended_count_shards(spark):
    """A nightly line_freq refresh may APPEND count shards, producing
    several rows per segHash; the scrub must SUM them (counts are
    additive), never fan out matching segment rows into cleanText."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from genetics_spark_coloc_spark.operators.text import line_dedup

    footer = "subscribe to our newsletter for updates"
    # the same footer hash counted in two shards: 1 + 1 = 2 > max_count
    base = spark.createDataFrame(
        [(footer,), (footer,), ("a perfectly unique line",)],
        "seg string",
    ).select(F.md5(F.trim("seg")).alias("segHash"))
    sharded = base.groupBy("segHash").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("segCount")
    ).unionByName(
        base.groupBy("segHash").agg(
            (F.count(F.lit(1)) - F.count(F.lit(1)) / 2).cast("long").alias("segCount")
        )
    )
    delta = spark.createDataFrame(
        [(1, f"keep this line\n{footer}\nand this line")],
        "doc_id long, text string",
    )
    out = line_dedup(
        delta, "text", "doc_id", sep="\n", max_count=1, freq_table=sharded
    ).collect()[0]
    # footer dropped ONCE (2 summed > 1); the kept lines appear exactly
    # once each — no fan-out from the duplicate-key table
    assert (out["nSegments"], out["nDropped"]) == (3, 1)
    assert out["cleanText"] == "keep this line\nand this line"
