"""Tests for L2G features/model, fine-mapping, multimodal, streaming."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.finemapping import (
    finemap_abf,
    finemap_grouped,
)
from genetics_spark_coloc_spark.operators.l2g import (
    assemble_feature_matrix,
    coloc_features,
    distance_tss_features,
    neighbourhood_normalise,
    predict_l2g,
    train_l2g_model,
)
from genetics_spark_coloc_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    resize_metadata,
)


def test_distance_tss_features(spark):
    study_locus = spark.createDataFrame(
        [
            {
                "studyLocusId": "L1",
                "locus": [
                    {"variantId": "v1", "posteriorProbability": 0.8},
                    {"variantId": "v2", "posteriorProbability": 0.2},
                ],
            }
        ],
        "studyLocusId: string, locus: array<struct<variantId: string, posteriorProbability: double>>",
    )
    variant_index = spark.createDataFrame(
        [
            {"variantId": "v1", "transcriptConsequences": [
                {"targetId": "G1", "distanceFromTss": 0},
                {"targetId": "G2", "distanceFromTss": 250_000},
            ]},
            {"variantId": "v2", "transcriptConsequences": [
                {"targetId": "G1", "distanceFromTss": 100_000},
            ]},
        ],
        "variantId: string, transcriptConsequences: array<struct<targetId: string, distanceFromTss: long>>",
    )
    out = distance_tss_features(study_locus, variant_index)
    rows = {(r["geneId"], r["featureName"]): r["featureValue"] for r in out.collect()}
    # reference semantics (l2g_features/distance.py):
    #   mean = log10(sum((500000 - d + 1) * pp)) / log10(500001)
    #   sentinel = log10(500000 - d_lead + 1) / log10(500001), lead = max-pp tag (v1)
    denom = math.log10(500_001)
    assert rows[("G1", "distanceTssMean")] == pytest.approx(
        math.log10(500_001 * 0.8 + 400_001 * 0.2) / denom
    )
    assert rows[("G1", "distanceSentinelTss")] == pytest.approx(1.0)
    assert rows[("G2", "distanceTssMean")] == pytest.approx(
        math.log10(250_001 * 0.8) / denom
    )
    assert rows[("G2", "distanceSentinelTss")] == pytest.approx(
        math.log10(250_001) / denom
    )


def test_vep_features(spark):
    from genetics_spark_coloc_spark.operators.l2g import vep_features

    study_locus = spark.createDataFrame(
        [
            {
                "studyLocusId": "L1",
                "locus": [
                    {"variantId": "v1", "posteriorProbability": 0.8},
                    {"variantId": "v2", "posteriorProbability": 0.2},
                ],
            }
        ],
        "studyLocusId: string, locus: array<struct<variantId: string, posteriorProbability: double>>",
    )
    variant_index = spark.createDataFrame(
        [
            {"variantId": "v1", "transcriptConsequences": [
                {"targetId": "G1", "consequenceScore": 0.9},
                {"targetId": "G2", "consequenceScore": 0.3},
            ]},
            {"variantId": "v2", "transcriptConsequences": [
                {"targetId": "G1", "consequenceScore": 0.5},
            ]},
        ],
        "variantId: string, transcriptConsequences: array<struct<targetId: string, consequenceScore: double>>",
    )
    out = vep_features(study_locus, variant_index)
    rows = {(r["geneId"], r["featureName"]): r["featureValue"] for r in out.collect()}
    # reference vep.py: max severity / mean(severity * pp)
    assert rows[("G1", "vepMaximum")] == pytest.approx(0.9)
    assert rows[("G1", "vepMean")] == pytest.approx((0.9 * 0.8 + 0.5 * 0.2) / 2)
    assert rows[("G2", "vepMaximum")] == pytest.approx(0.3)
    assert rows[("G2", "vepMean")] == pytest.approx(0.3 * 0.8)


def test_coloc_features_and_neighbourhood(spark):
    coloc_df = spark.createDataFrame(
        [
            ("L1", "R1", 0.3, 0.9),
            ("L1", "R2", 0.1, 0.6),
        ],
        "leftStudyLocusId: string, rightStudyLocusId: string, clpp: double, h4: double",
    )
    study_locus = spark.createDataFrame(
        [("R1", "SQ1"), ("R2", "SQ2")], "studyLocusId: string, studyId: string"
    )
    study_index = spark.createDataFrame(
        [("SQ1", "G1", "eqtl"), ("SQ2", "G2", "eqtl")],
        "studyId: string, geneId: string, studyType: string",
    )
    long_df = coloc_features(study_locus, coloc_df, study_index)
    rows = {(r["geneId"], r["featureName"]): r["featureValue"] for r in long_df.collect()}
    assert rows[("G1", "eQtlColocClppMaximum")] == pytest.approx(0.3)
    assert rows[("G2", "eQtlColocH4Maximum")] == pytest.approx(0.6)

    neigh = neighbourhood_normalise(long_df)
    nrows = {(r["geneId"], r["featureName"]): r["featureValue"] for r in neigh.collect()}
    assert nrows[("G1", "eQtlColocClppMaximumNeighbourhood")] == pytest.approx(1.0)
    assert nrows[("G2", "eQtlColocClppMaximumNeighbourhood")] == pytest.approx(1 / 3)


def test_feature_matrix_and_model_roundtrip(spark):
    long_df = spark.createDataFrame(
        [
            ("L1", "G1", "fA", 0.9), ("L1", "G1", "fB", 0.8),
            ("L1", "G2", "fA", 0.1),
            ("L2", "G3", "fA", 0.85), ("L2", "G3", "fB", 0.9),
            ("L2", "G4", "fA", 0.05), ("L2", "G4", "fB", 0.1),
        ],
        "studyLocusId: string, geneId: string, featureName: string, featureValue: double",
    )
    fm = assemble_feature_matrix(long_df, ["fA", "fB"])
    wide = {(r["studyLocusId"], r["geneId"]): (r["fA"], r["fB"]) for r in fm.collect()}
    assert wide[("L1", "G2")] == (0.1, 0.0)  # missing fB filled

    labeled = fm.withColumn(
        "goldStandardSet", (F.col("fA") > 0.5).cast("int")
    )
    model = train_l2g_model(labeled, feature_names=["fA", "fB"], max_iter=5)
    scored = predict_l2g(model, labeled)
    scores = {(r["studyLocusId"], r["geneId"]): r["l2gScore"] for r in scored.collect()}
    assert scores[("L1", "G1")] > scores[("L1", "G2")]


def test_l2g_model_save_load_predict_parity(spark, tmp_path):
    """Train → save → load → score equals in-session scores EXACTLY,
    and the sidecar metadata round-trips the feature list (reference
    LocusToGeneModel.save/load_from_disk, method/l2g/model.py:56,211;
    VERDICT r5 task #4)."""
    from genetics_spark_coloc_spark.operators.l2g import (
        load_l2g_model,
        save_l2g_model,
    )

    long_df = spark.createDataFrame(
        [
            ("L1", "G1", "fA", 0.9), ("L1", "G1", "fB", 0.8),
            ("L1", "G2", "fA", 0.1),
            ("L2", "G3", "fA", 0.85), ("L2", "G3", "fB", 0.9),
            ("L2", "G4", "fA", 0.05), ("L2", "G4", "fB", 0.1),
            ("L3", "G5", "fA", 0.7), ("L3", "G5", "fB", 0.2),
            ("L3", "G6", "fA", 0.3), ("L3", "G6", "fB", 0.95),
        ],
        "studyLocusId: string, geneId: string, featureName: string, featureValue: double",
    )
    fm = assemble_feature_matrix(long_df, ["fA", "fB"])
    labeled = fm.withColumn(
        "goldStandardSet", (F.col("fA") > 0.5).cast("int")
    )
    model = train_l2g_model(labeled, feature_names=["fA", "fB"], max_iter=5)
    in_session = {
        (r["studyLocusId"], r["geneId"]): r["l2gScore"]
        for r in predict_l2g(model, labeled).collect()
    }

    path = str(tmp_path / "l2g_model")
    # default feature_names: derived from the fitted assembler
    save_l2g_model(model, path)
    loaded, meta = load_l2g_model(spark, path)
    assert meta["featureNames"] == ["fA", "fB"]
    assert meta["labelCol"] == "goldStandardSet"
    reloaded = {
        (r["studyLocusId"], r["geneId"]): r["l2gScore"]
        for r in predict_l2g(loaded, labeled).collect()
    }
    assert reloaded == in_session  # exact, not approx

    # overwrite with explicit names round-trips too
    save_l2g_model(model, path, feature_names=["fA", "fB"], label_col="y")
    _, meta2 = load_l2g_model(spark, path)
    assert meta2 == {"featureNames": ["fA", "fB"], "labelCol": "y"}


def test_finemap_abf_single_causal(spark):
    df = spark.createDataFrame(
        [
            ("L1", "strong", 0.5, 0.05),
            ("L1", "weak", 0.05, 0.05),
            ("L1", "null", 0.001, 0.05),
        ],
        "studyLocusId: string, variantId: string, beta: double, standardError: double",
    )
    rows = {r["variantId"]: r for r in finemap_abf(df).collect()}
    pps = [rows[v]["posteriorProbability"] for v in ("strong", "weak", "null")]
    assert sum(pps) == pytest.approx(1.0)
    assert rows["strong"]["posteriorProbability"] > 0.99
    # spot-check the Wakefield formula for one row
    z, se, w = 0.5 / 0.05, 0.05, 0.0225
    r = w / (w + se * se)
    expected = 0.5 * math.log(1 - r) + z * z * r / 2
    assert rows["strong"]["logABF"] == pytest.approx(expected)


def test_finemap_grouped_applyinpandas(spark):
    rows = []
    for locus, strong in [("L1", "v3"), ("L2", "u7")]:
        for i in range(10):
            vid = f"v{i}" if locus == "L1" else f"u{i}"
            beta = 0.6 if vid == strong else 0.01
            rows.append((locus, vid, beta, 0.05))
    df = spark.createDataFrame(
        rows, "studyLocusId: string, variantId: string, beta: double, standardError: double"
    )
    out = finemap_grouped(df)
    got = out.collect()
    assert {r["studyLocusId"] for r in got} == {"L1", "L2"}
    by_locus = {}
    for r in got:
        by_locus.setdefault(r["studyLocusId"], []).append(r)
    for locus, strong in [("L1", "v3"), ("L2", "u7")]:
        best = max(by_locus[locus], key=lambda r: r["posteriorProbability"])
        assert best["variantId"] == strong
        assert best["posteriorProbability"] > 0.9


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"fakepng"), "image/png", 640, 480, None),
            (2, "video", bytearray(b"fakemp4"), "video/mp4", 1920, 1080, 3500),
        ],
        "mediaId: long, modality: string, payload: binary, mimeType: string, "
        "width: int, height: int, durationMs: int",
    )
    feats = extract_features(media, dim=8).collect()
    assert all(r["decodeStatus"] == "stubbed" for r in feats)
    assert all(len(r["feature"]) == 8 for r in feats)
    # determinism: same payload -> same feature
    again = extract_features(media, dim=8).collect()
    assert feats[0]["feature"] == again[0]["feature"]

    resized = {r["mediaId"]: (r["targetWidth"], r["targetHeight"]) for r in resize_metadata(media).collect()}
    assert resized[1] == (256, 192)
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frameTimestampMs"] for r in frames] == [0, 1000, 2000, 3000]


def test_streaming_quality_pipeline(spark, tmp_path):
    from genetics_spark_coloc_spark.streaming.pipelines import (
        streaming_dedup_exact,
        streaming_quality_scores,
    )

    src = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
    stream = src.withColumn("text", F.concat(F.lit("the quick doc "), (F.col("value") % 3).cast("string")))
    scored = streaming_quality_scores(stream)
    deduped = streaming_dedup_exact(scored, "text", "timestamp")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM dedup_test").collect()
            if len(rows) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    texts = [r["text"] for r in rows]
    # exactly one row per distinct content hash
    assert len(texts) == len(set(texts))
    assert len(rows) >= 1
    assert all(r["nTokens"] == 4 for r in rows)


def test_carma_kernel_two_variant_locus(spark):
    """PIPs from the truncated CARMA enumeration on a 2-variant locus
    match the closed-form model-space posterior."""
    import math

    import numpy as np
    import pandas as pd

    from genetics_spark_coloc_spark.operators.finemapping import (
        ABF_W,
        carma_kernel,
        finemap_grouped,
    )

    rows = pd.DataFrame(
        {
            "studyLocusId": ["L", "L"],
            "variantId": ["a", "b"],
            "beta": [0.5, 0.1],
            "standardError": [0.1, 0.1],
        }
    )
    out = carma_kernel(rows, prior_inclusion=0.1)
    # closed form: models {}, {a}, {b}, {a,b}
    z = rows["beta"] / rows["standardError"]
    r = ABF_W / (ABF_W + rows["standardError"] ** 2)
    labf = (0.5 * np.log(1 - r) + z * z * r / 2).to_numpy()
    p, q = math.log(0.1), math.log(0.9)
    scores = np.array(
        [2 * q, p + q + labf[0], p + q + labf[1], 2 * p + labf[0] + labf[1]]
    )
    w = np.exp(scores - scores.max())
    w /= w.sum()
    exp_pip_a = w[1] + w[3]
    exp_pip_b = w[2] + w[3]
    got = dict(zip(out["variantId"], out["posteriorProbability"]))
    assert abs(got["a"] - exp_pip_a) < 1e-12
    assert abs(got["b"] - exp_pip_b) < 1e-12

    # and through the distributed harness (kernel default prior)
    default_local = dict(
        zip(carma_kernel(rows)["variantId"], carma_kernel(rows)["posteriorProbability"])
    )
    sdf = spark.createDataFrame(rows)
    dist = {
        r.variantId: r.posteriorProbability
        for r in finemap_grouped(sdf, kernel=carma_kernel).collect()
    }
    assert abs(dist["a"] - default_local["a"]) < 1e-12


def test_gold_standard_pipeline_units(spark):
    from genetics_spark_coloc_spark.operators.gold_standard import (
        expand_gold_standard_with_negatives,
        process_gene_interactions,
        remove_false_negatives,
    )

    # reference doctest (l2g_gold_standard.py:88-95)
    interactions = spark.createDataFrame(
        [("gene1", "gene2", 0.8), ("gene1", "gene2", 0.5), ("gene2", "gene3", 0.7)],
        ["targetA", "targetB", "scoring"],
    )
    top = {(r["geneIdA"], r["geneIdB"]): r["score"]
           for r in process_gene_interactions(interactions).collect()}
    assert top == {("gene1", "gene2"): 0.8, ("gene2", "gene3"): 0.7}

    positives = spark.createDataFrame(
        [("SL1", "S1", "1_10_A_G", "G1", ["src"])],
        "studyLocusId: string, studyId: string, variantId: string, "
        "geneId: string, sources: array<string>",
    )
    vi = spark.createDataFrame(
        [{"variantId": "1_10_A_G", "transcriptConsequences": [
            {"targetId": "G1", "distanceFromTss": 1000},
            {"targetId": "G2", "distanceFromTss": 400_000},
            {"targetId": "G3", "distanceFromTss": 600_000},  # outside window
        ]}],
        "variantId: string, transcriptConsequences: array<struct<targetId: string, distanceFromTss: long>>",
    )
    expanded = expand_gold_standard_with_negatives(positives, vi)
    labels = {r["geneId"]: r["goldStandardSet"] for r in expanded.collect()}
    assert labels == {"G1": "positive", "G2": "negative"}

    # false-negative removal, mirroring the reference's literal filter
    # (l2g_gold_standard.py:203-232): a row survives iff it has no
    # interactor, or it is non-negative AND its interactor is positive
    gs = spark.createDataFrame(
        [
            ("SL1", "S1", "1_10_A_G", "G1", ["src"], "positive"),
            ("SL1", "S1", "1_10_A_G", "G2", ["src"], "negative"),
            ("SL1", "S1", "1_10_A_G", "G3", ["src"], "negative"),
            ("SL2", "S1", "1_20_A_G", "G4", ["src"], "positive"),
        ],
        "studyLocusId: string, studyId: string, variantId: string, "
        "geneId: string, sources: array<string>, goldStandardSet: string",
    )
    strong = spark.createDataFrame(
        [("G1", "G2", 0.9), ("G4", "G1", 0.9)],
        "geneIdA: string, geneIdB: string, score: double",
    )
    refined = remove_false_negatives(gs, strong)
    # G2 dropped (negative with a positive interactor), G3 kept (no
    # interactions), G1/G4 kept (positive with a positive interactor)
    assert {r["geneId"] for r in refined.collect()} == {"G1", "G3", "G4"}


class TestRegistryFeatures:
    """New registry families: isProteinCoding, credibleSetConfidence,
    coloc neighbourhood zero-extension, and the full-matrix builder
    (reference feature_factory.py:102-134)."""

    def _target_index(self, spark):
        return spark.createDataFrame(
            [
                {"id": "G1", "genomicLocation": {"chromosome": "1"}, "tss": 150_000, "biotype": "protein_coding"},
                {"id": "G2", "genomicLocation": {"chromosome": "1"}, "tss": 400_000, "biotype": "lncRNA"},
                {"id": "G3", "genomicLocation": {"chromosome": "2"}, "tss": 150_000, "biotype": "protein_coding"},
            ],
            "id: string, genomicLocation: struct<chromosome: string>, tss: long, biotype: string",
        )

    def test_is_protein_coding(self, spark):
        from genetics_spark_coloc_spark.operators.l2g import is_protein_coding_features

        study_locus = spark.createDataFrame(
            [{"studyLocusId": "L1", "chromosome": "1", "position": 100_000}],
            "studyLocusId: string, chromosome: string, position: int",
        )
        out = is_protein_coding_features(study_locus, self._target_index(spark))
        rows = {r["geneId"]: r["featureValue"] for r in out.collect()}
        # G1 coding on chr1 in window -> 1.0; G2 non-coding in window -> 0.0;
        # G3 other chromosome -> absent
        assert rows == {"G1": 1.0, "G2": 0.0}

    def test_credible_set_confidence_feature(self, spark):
        from genetics_spark_coloc_spark.operators.l2g import (
            credible_set_confidence_features,
        )

        study_locus = spark.createDataFrame(
            [
                {
                    "studyLocusId": "L1",
                    "confidence": "SuSiE fine-mapped credible set with out-of-sample LD",
                    "locus": [{"variantId": "v1"}],
                }
            ],
            "studyLocusId: string, confidence: string, locus: array<struct<variantId: string>>",
        )
        variant_index = spark.createDataFrame(
            [
                {"variantId": "v1", "transcriptConsequences": [{"targetId": "G1"}]},
            ],
            "variantId: string, transcriptConsequences: array<struct<targetId: string>>",
        )
        out = credible_set_confidence_features(study_locus, variant_index)
        rows = out.collect()
        assert len(rows) == 1
        assert rows[0]["geneId"] == "G1"
        assert rows[0]["featureValue"] == 0.75

    def test_coloc_zero_extension(self, spark):
        from genetics_spark_coloc_spark.operators.l2g import (
            extend_coloc_to_neighbourhood_genes,
        )

        coloc_long = spark.createDataFrame(
            [
                {"studyLocusId": "L1", "geneId": "G1",
                 "featureName": "eQtlColocClppMaximum", "featureValue": 0.4},
            ]
        )
        study_locus = spark.createDataFrame(
            [{"studyLocusId": "L1", "variantId": "v1"}]
        )
        variant_index = spark.createDataFrame(
            [
                {"variantId": "v1", "transcriptConsequences": [
                    {"targetId": "G1"}, {"targetId": "G2"}, {"targetId": "G3"}]},
            ],
            "variantId: string, transcriptConsequences: array<struct<targetId: string>>",
        )
        out = extend_coloc_to_neighbourhood_genes(
            coloc_long, study_locus, variant_index, self._target_index(spark)
        )
        rows = {r["geneId"]: r["featureValue"] for r in out.collect()}
        # G3 is coding and missing from coloc -> 0.0 row; G1 already
        # present; G2 non-coding -> excluded
        assert rows == {"G3": 0.0}

    def test_full_matrix_has_registry_columns(self, spark):
        from genetics_spark_coloc_spark.operators.l2g import (
            REGISTRY_FEATURES,
            build_registry_feature_matrix,
        )

        study_locus = spark.createDataFrame(
            [
                {
                    "studyLocusId": "L1",
                    "variantId": "v1",
                    "chromosome": "1",
                    "position": 100_000,
                    "confidence": "SuSiE fine-mapped credible set with in-sample LD",
                    "studyId": "S1",
                    "locus": [{"variantId": "v1", "posteriorProbability": 1.0}],
                }
            ],
            "studyLocusId: string, variantId: string, chromosome: string, "
            "position: int, confidence: string, studyId: string, "
            "locus: array<struct<variantId: string, posteriorProbability: double>>",
        )
        variant_index = spark.createDataFrame(
            [
                {"variantId": "v1", "transcriptConsequences": [
                    {"targetId": "G1", "distanceFromTss": 1000,
                     "distanceFromFootprint": 500, "consequenceScore": 0.6}]},
            ],
            "variantId: string, transcriptConsequences: array<struct<"
            "targetId: string, distanceFromTss: long, distanceFromFootprint: long, "
            "consequenceScore: double>>",
        )
        coloc = spark.createDataFrame(
            [{"leftStudyLocusId": "L1", "rightStudyLocusId": "R1",
              "clpp": 0.3, "h4": 0.9}]
        )
        qtl_map = spark.createDataFrame(
            [{"studyLocusId": "R1", "studyId": "Q1"}]
        )
        study_index = spark.createDataFrame(
            [{"studyId": "Q1", "geneId": "G1", "studyType": "eqtl"}]
        )
        matrix = build_registry_feature_matrix(
            study_locus, variant_index, coloc, study_index,
            self._target_index(spark), qtl_locus_to_study=qtl_map,
        )
        assert set(REGISTRY_FEATURES) <= set(matrix.columns)
        row = matrix.filter(
            (F.col("studyLocusId") == "L1") & (F.col("geneId") == "G1")
        ).collect()[0]
        assert row["eQtlColocClppMaximum"] == pytest.approx(0.3)
        assert row["eQtlColocH4Maximum"] == pytest.approx(0.9)
        assert row["credibleSetConfidence"] == 1.0
        assert row["isProteinCoding"] == 1.0
        # single gene at locus -> its neighbourhood ratio is 1
        assert row["distanceTssMeanNeighbourhood"] == pytest.approx(1.0)


def test_registry_matrix_keeps_all_null_severity_groups(spark):
    """A (locus, gene) pair whose ONLY evidence is transcript rows
    with NULL consequenceScore and out-of-window distances must still
    appear in the registry matrix as an all-zero candidate row — the
    split vep_features emitted its group rows even when the aggregate
    was NULL, and the merged local_features must not shrink the
    candidate-gene row set."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from genetics_spark_coloc_spark.operators.l2g import local_features

    study_locus = spark.createDataFrame(
        [("L1", "V1", [("V1", 1.0)])],
        "studyLocusId string, variantId string, "
        "locus array<struct<variantId string, posteriorProbability double>>",
    )
    variant_index = spark.createDataFrame(
        [("V1", [("GNULL", 9_000_000, 9_000_000, None)])],
        "variantId string, transcriptConsequences array<struct<"
        "targetId string, distanceFromTss long, distanceFromFootprint long, "
        "consequenceScore double>>",
    )
    long = local_features(study_locus, variant_index, genomic_window=500_000)
    rows = long.filter(F.col("geneId") == "GNULL").collect()
    names = sorted(r["featureName"] for r in rows)
    # the vep family rows survive with NULL values (pivot + fillna
    # turns them into the all-zero candidate row); the distance
    # families correctly drop (no in-window evidence)
    assert names == ["vepMaximum", "vepMean"]
    assert all(r["featureValue"] is None for r in rows)


def test_finemap_grouped_locus_size_guard(spark):
    """One pathological locus materializes a p×p LD matrix inside a
    single Python worker — the harness must fail loudly at the
    documented bound BEFORE the kernel allocates."""
    from genetics_spark_coloc_spark.operators.finemapping import (
        finemap_grouped,
    )

    ss = spark.range(30).select(
        F.lit("locus_huge").alias("studyLocusId"),
        F.concat(F.lit("v"), F.col("id")).alias("variantId"),
        (F.col("id") * 0.01).alias("beta"),
        F.lit(0.1).alias("standardError"),
    )
    with pytest.raises(Exception, match="max_locus_variants"):
        finemap_grouped(ss, max_locus_variants=10).collect()
    # under the bound the same input fits normally
    out = finemap_grouped(ss, max_locus_variants=30)
    assert out.count() == 30
