"""Step-registry smoke tests — the reference's step-test strategy
(e.g. tests/gentropy/step/test_colocalisation_step.py: instantiate a
step on tiny inputs, assert it writes a well-formed output) applied
to the `steps.py` registry and the `python -m` CLI."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.queries import _sumstats, _tags
from genetics_spark_coloc_spark.steps import STEPS, coerce_param, run_step

# the steps that ingest the reference's raw sample files skip where
# that checkout is absent, under the realism tests' own guard
from test_reference_samples import DATA as REFERENCE_DATA
from test_reference_samples import pytestmark as needs_reference_data

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def ss_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("steps") / "ss.parquet")
    _sumstats(spark, SF).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def credset_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("steps") / "credset.parquet")
    tag_rows = _tags(spark, SF)
    study_locus = tag_rows.groupBy(
        "studyLocusId", "studyId", "studyType", "chromosome"
    ).agg(
        F.collect_list(
            F.struct(
                F.col("tagVariantId").alias("variantId"),
                F.col("posteriorProbability"),
                F.col("logBF"),
                F.col("beta"),
                F.lit(None).cast("float").alias("pValueMantissa"),
                F.lit(None).cast("int").alias("pValueExponent"),
            )
        ).alias("locus")
    ).withColumn("region", F.concat_ws(":", "chromosome", "studyLocusId"))
    study_locus.write.parquet(p)
    return p


def test_registry_is_complete():
    # the ~15-step core surface the reference exposes via hydra
    assert len(STEPS) >= 15
    for spec in STEPS.values():
        assert spec.inputs, spec.name
        assert spec.description
        assert "reference" in spec.description


def test_run_window_based_clumping(spark, ss_path, tmp_path):
    out = str(tmp_path / "leads.parquet")
    df = run_step(
        spark,
        "window_based_clumping",
        {"summary_statistics": ss_path},
        out,
        {"distance": 250_000, "gwas_significance": 1e-8},
    )
    assert df.count() > 0
    assert spark.read.parquet(out).count() == df.count()


def test_run_locus_breaker(spark, ss_path, tmp_path):
    out = str(tmp_path / "lb.parquet")
    df = run_step(spark, "locus_breaker_clumping", {"summary_statistics": ss_path}, out)
    assert df.count() > 0


def test_run_sumstat_qc(spark, ss_path, tmp_path):
    ss = spark.read.parquet(ss_path).withColumn(
        "standardError", F.lit(0.1)
    )
    qc_in = str(tmp_path / "ss_se.parquet")
    ss.write.parquet(qc_in)
    out = str(tmp_path / "qc.parquet")
    df = run_step(spark, "summary_statistics_qc", {"summary_statistics": qc_in}, out)
    assert df.count() > 0


def test_run_colocalisation_both_methods(spark, credset_path, tmp_path):
    coloc_df = run_step(
        spark,
        "colocalisation",
        {"credible_set": credset_path},
        str(tmp_path / "coloc.parquet"),
    )
    assert "h4" in [c.lower() for c in coloc_df.columns] or coloc_df.count() >= 0
    ecav = run_step(
        spark,
        "colocalisation",
        {"credible_set": credset_path},
        str(tmp_path / "ecaviar.parquet"),
        {"coloc_method": "ecaviar"},
    )
    assert ecav.count() >= 0


def test_run_overlaps(spark, credset_path, tmp_path):
    df = run_step(
        spark, "overlaps", {"credible_set": credset_path}, str(tmp_path / "ov.parquet")
    )
    assert df.count() > 0


def test_missing_input_raises(spark):
    with pytest.raises(ValueError, match="missing inputs"):
        run_step(spark, "window_based_clumping", {}, "/tmp/x")


def test_unknown_step_and_param(spark, ss_path):
    with pytest.raises(KeyError, match="unknown step"):
        run_step(spark, "no_such_step", {}, "/tmp/x")
    with pytest.raises(KeyError, match="no param"):
        run_step(
            spark,
            "window_based_clumping",
            {"summary_statistics": ss_path},
            "/tmp/x",
            {"bogus": 1},
            write=False,
        )


def test_coerce_param_types():
    spec = STEPS["window_based_clumping"]
    assert coerce_param(spec, "distance", "1000") == 1000
    assert coerce_param(spec, "gwas_significance", "1e-6") == 1e-6
    ld = STEPS["ld_based_clumping"]
    assert coerce_param(ld, "drop_linked", "true") is True
    assert coerce_param(ld, "drop_linked", "0") is False
    with pytest.raises(ValueError):
        coerce_param(ld, "drop_linked", "maybe")


def test_cli_list_and_describe():
    r = subprocess.run(
        [sys.executable, "-m", "genetics_spark_coloc_spark", "list"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0
    assert "window_based_clumping" in r.stdout
    r = subprocess.run(
        [sys.executable, "-m", "genetics_spark_coloc_spark", "describe",
         "colocalisation"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0
    assert "priorc12" in r.stdout


def test_cli_run_end_to_end(ss_path, tmp_path):
    out = str(tmp_path / "cli_leads.parquet")
    r = subprocess.run(
        [sys.executable, "-m", "genetics_spark_coloc_spark", "run",
         "window_based_clumping",
         "--in", f"summary_statistics={ss_path}",
         "--out", out,
         "--param", "distance=250000",
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wrote" in r.stdout


def test_cli_run_from_config_file(credset_path, tmp_path):
    """Config-file execution (the reference's hydra compose surface,
    src/gentropy/config.py:26-787): the JSON file supplies step /
    inputs / output / params / spark settings, and command-line flags
    override it — here --out overrides the file's output path."""
    import json
    import os

    out = str(tmp_path / "cfg_coloc.parquet")
    cfg_path = tmp_path / "coloc.json"
    cfg_path.write_text(
        json.dumps(
            {
                "step": "colocalisation",
                "inputs": {"credible_set": credset_path},
                "output": str(tmp_path / "overridden_away.parquet"),
                "params": {"coloc_method": "ecaviar"},
                "master": "local[2]",
                "shuffle_partitions": 4,
            }
        )
    )
    r = subprocess.run(
        [sys.executable, "-m", "genetics_spark_coloc_spark", "run",
         "--config", str(cfg_path), "--out", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wrote" in r.stdout and out in r.stdout
    assert os.path.isdir(out)
    assert not os.path.exists(str(tmp_path / "overridden_away.parquet"))

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"step": "colocalisation", "bogus_key": 1}))
    r = subprocess.run(
        [sys.executable, "-m", "genetics_spark_coloc_spark", "run",
         "--config", str(bad)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode != 0
    assert "unknown keys" in r.stderr


def test_run_locus_to_gene_predict(spark, tmp_path):
    """The SHAP-bearing prediction step emits the l2g_predictions
    entity shape with local accuracy on the margin scale."""
    import math

    rows = []
    for i in range(200):
        fa = ((i * 7) % 19) / 19.0
        fb = ((i * 5) % 17) / 17.0
        rows.append(
            (f"L{i}", f"G{i % 30}", fa, fb, 1.0 if fa + fb > 1.0 else 0.0)
        )
    fm_path = str(tmp_path / "fm")
    spark.createDataFrame(
        rows, "studyLocusId string, geneId string, fA double, fB double, goldStandardSet double"
    ).write.parquet(fm_path)
    out = run_step(
        spark,
        "locus_to_gene_predict",
        {"feature_matrix": fm_path},
        str(tmp_path / "out"),
        params={"max_iter": 5},
    )
    got = out.collect()
    assert len(got) == 200
    r = got[0]
    assert {s["name"] for s in r.features} == {"fA", "fB"}
    assert 0.0 <= r.score <= 1.0
    # margin from score roundtrip equals base + sum(shap) to float32
    margin = 0.5 * math.log(r.score / (1 - r.score))
    total = r.shapBaseValue + sum(s["shapValue"] for s in r.features)
    assert abs(total - margin) < 1e-5


def test_run_corpus_curation(spark, tmp_path):
    """The composed curation step runs end-to-end on the documents
    table: quality-filtered, exact-duplicate copies removed, every
    kept doc carries split/lang/token metadata."""
    out = run_step(
        spark,
        "corpus_curation",
        {"documents": f"{SF}/documents.parquet"},
        str(tmp_path / "curated.parquet"),
        params={"min_words": 10},
    )
    rows = out.collect()
    n_in = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(rows) < n_in
    assert {"docId", "text", "nCopies", "nTokens", "lang", "split"} <= set(
        out.columns
    )
    texts = [r.text for r in rows]
    assert len(texts) == len(set(texts))  # exact dups gone
    assert {r.split for r in rows} <= {"train", "validation", "test"}
    assert all(r.nTokens >= 10 for r in rows)

def test_run_corpus_curation_with_span_stripping(spark, tmp_path):
    """strip_dup_spans=True cuts corpus-duplicated token runs from the
    surviving docs: total tokens shrink (the sf0.001 documents share
    5-gram runs), no doc gains tokens, and schema is unchanged."""
    base = run_step(
        spark,
        "corpus_curation",
        {"documents": f"{SF}/documents.parquet"},
        str(tmp_path / "c1.parquet"),
        params={"min_words": 10},
    )
    stripped = run_step(
        spark,
        "corpus_curation",
        {"documents": f"{SF}/documents.parquet"},
        str(tmp_path / "c2.parquet"),
        params={
            "min_words": 10,
            "strip_dup_spans": True,
            "span_min_tokens": 5,
        },
    )
    b = {r.docId: r.nTokens for r in base.collect()}
    s = {r.docId: r.nTokens for r in stripped.collect()}
    assert set(s) == set(b)
    assert all(s[d] <= b[d] for d in b)
    assert sum(s.values()) < sum(b.values())
    assert set(stripped.columns) == set(base.columns)


def test_run_nb_classifier_train_and_predict(spark, tmp_path):
    docs = str(tmp_path / "docs.parquet")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)
    model_out = str(tmp_path / "model.parquet")
    model = run_step(
        spark, "nb_classifier_train", {"documents": docs}, model_out
    )
    assert set(model.columns) == {"label", "token", "tokenCount", "logLik"}
    assert model.count() > 0
    preds = run_step(
        spark,
        "nb_classifier_predict",
        {"documents": docs, "model": model_out, "labeled": docs},
        str(tmp_path / "preds.parquet"),
    )
    rows = preds.collect()
    assert {r["label"] for r in rows} <= {
        r["label"] for r in model.select("label").distinct().collect()
    }
    n_docs = (
        spark.read.parquet(docs)
        .where(F.length(F.trim("text")) > 0)
        .count()
    )
    assert len(rows) == n_docs  # one argmax row per non-empty doc


def test_run_zorder_layout_step(spark, tmp_path):
    src = str(tmp_path / "li.parquet")
    spark.read.parquet(f"{SF}/lineitem.parquet").write.parquet(src)
    out = run_step(
        spark,
        "zorder_layout",
        {"table": src},
        str(tmp_path / "z.parquet"),
        params={"columns": "l_partkey,l_suppkey", "num_partitions": 4},
    )
    assert out.columns == spark.read.parquet(src).columns  # key is dropped
    assert out.count() == spark.read.parquet(src).count()


def test_run_gwas_catalog_top_hits(spark, tmp_path):
    studies = spark.createDataFrame(
        [
            ("GCST1", "trait one", ["EFO_1"]),
            ("GCST2", "trait two", ["EFO_2"]),
        ],
        "studyId string, traitFromSource string, traitFromSourceMappedIds array<string>",
    )
    assoc = spark.createDataFrame(
        [
            ("GCST1", "a|x|EFO_9", "1", 1000, "1_1000_A_G", 1.0, -10),
            ("GCST1", "b|y|EFO_8", "1", 1200, "1_1200_A_G", 2.0, -9),
            ("GCST2", "c|z|EFO_7", "2", 5000, "2_5000_A_G", 3.0, -12),
        ],
        "studyId string, subStudyDescription string, chromosome string, "
        "position int, variantId string, pValueMantissa float, pValueExponent int",
    )
    sp, ap = str(tmp_path / "st.parquet"), str(tmp_path / "as.parquet")
    studies.write.parquet(sp)
    assoc.write.parquet(ap)
    st_out = str(tmp_path / "studies_out.parquet")
    out = str(tmp_path / "tophits.parquet")
    df = run_step(
        spark,
        "gwas_catalog_top_hits",
        {"catalog_studies": sp, "catalog_associations": ap},
        out,
        {"distance": 500, "studies_out": st_out},
    )
    rows = {r.variantId: r for r in df.collect()}
    assert len(rows) == 3
    # GCST1 splits into GCST1_1/GCST1_2; every row carries TOP_HIT
    assert rows["1_1000_A_G"].studyId in ("GCST1_1", "GCST1_2")
    for r in rows.values():
        assert "Study locus from curated top hit" in r.qualityControls
    st = spark.read.parquet(st_out).collect()
    assert {r.studyId for r in st} == {"GCST1_1", "GCST1_2", "GCST2"}
    for r in st:
        assert r.qualityControls == [
            "Harmonized summary statistics are not available or empty"
        ]


@needs_reference_data
def test_run_biosample_index(spark, tmp_path):
    data = REFERENCE_DATA
    out = str(tmp_path / "biosamples.parquet")
    df = run_step(
        spark,
        "biosample_index",
        {
            "cell_ontology": f"{data}/cell_ontology_sample.json",
            "uberon": f"{data}/uberon_sample.json",
            "efo": f"{data}/efo_biosample_sample.json",
        },
        out,
    )
    rows = df.collect()
    assert len(rows) > 0
    ids = {r.biosampleId for r in rows}
    # one row per biosampleId after the merge
    assert len(ids) == len(rows)
    # no IRIs survive the prefix strip
    assert not any("http" in i for i in ids)


@needs_reference_data
def test_run_finngen_finemapping_ingestion(spark, tmp_path):
    data = REFERENCE_DATA
    out = str(tmp_path / "finngen_cs.parquet")
    df = run_step(
        spark,
        "finngen_finemapping_ingestion",
        {
            "susie_snps": f"{data}/finngen_R9_AB1_EBV.SUSIE.snp.gz",
            "credset_summaries": f"{data}/finngen_credset_summary_sample.tsv",
        },
        out,
        {"release_prefix": "FINNGEN_R9"},
    )
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.studyId.startswith("FINNGEN_R9_")
        assert r.locus


@needs_reference_data
def test_run_finngen_studies(spark, tmp_path):
    data = REFERENCE_DATA
    out = str(tmp_path / "finngen_studies.parquet")
    df = run_step(
        spark,
        "finngen_studies",
        {"phenotype_manifest": f"{data}/finngen_studies_sample.json"},
        out,
        {"release_prefix": "FINNGEN_R9"},
    )
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.studyId.startswith("FINNGEN_R9_")
        assert r.nSamples == r.nCases + r.nControls
        assert r.ldPopulationStructure is not None


@needs_reference_data
def test_run_gwas_catalog_study_index(spark, tmp_path):
    data = REFERENCE_DATA
    out = str(tmp_path / "gcat_studies.parquet")
    df = run_step(
        spark,
        "gwas_catalog_study_index",
        {
            "catalog_studies": f"{data}/gwas_catalog_studies.tsv",
            "catalog_ancestry": f"{data}/gwas_catalog_ancestries.tsv",
        },
        out,
    )
    rows = df.collect()
    assert rows
    assert all(r.studyId.startswith("GCST") for r in rows)
    # the free-text sample parser recovered counts for at least one study
    assert any(r.nSamples and r.nSamples > 0 for r in rows)
    # ancestry pivot columns ride every row (the sample studies and
    # sample ancestry files cover disjoint accessions, so values are
    # null here; annotate_ancestries' pivot itself is unit-tested)
    for c in ("discoverySamples", "ldPopulationStructure", "replicationSamples"):
        assert c in df.columns


def test_run_gwas_catalog_study_curation(spark, tmp_path):
    studies = spark.createDataFrame(
        [("GCST1", "gwas", True), ("GCST2", "gwas", True)],
        "studyId string, studyType string, hasSumstats boolean",
    )
    curation = spark.createDataFrame(
        [("GCST1", "eqtl", "caseCase", None, "true")],
        "studyId string, studyType string, analysisFlag string, "
        "qualityControl string, isCurated string",
    )
    sp = str(tmp_path / "st.parquet")
    cp = str(tmp_path / "cur.tsv")
    studies.write.parquet(sp)
    curation.toPandas().to_csv(cp, sep="\t", index=False)
    out = str(tmp_path / "curated.parquet")
    df = run_step(
        spark,
        "gwas_catalog_study_curation",
        {"study_index": sp, "curation_table": cp},
        out,
    )
    rows = {r.studyId: r for r in df.collect()}
    assert rows["GCST1"].studyType == "eqtl"  # curated type wins
    assert rows["GCST1"].analysisFlags == ["caseCase"]
    assert "Study was not curated by Open Targets" in (
        rows["GCST2"].qualityControls
    )


def test_run_lof_curation_ingestion(spark, tmp_path):
    import pandas as pd

    raw = pd.DataFrame(
        {
            "Variant ID GRCh37": ["1-100-A-G", "2-200-C-T"],
            "Variant ID GRCh38": ["1-110-A-G", "2-210-C-T"],
            "Verdict": ["lof", "likely_not_lof"],
        }
    )
    cp = str(tmp_path / "lof.csv")
    raw.to_csv(cp, index=False)
    out = str(tmp_path / "lof.parquet")
    df = run_step(spark, "lof_curation_ingestion", {"lof_curation": cp}, out)
    rows = {r.variantId: r for r in df.collect()}
    # chr/pos from GRCh38, ref/alt from GRCh37
    assert "1_110_A_G" in rows and "2_210_C_T" in rows


def test_run_foldx_ingestion(spark, tmp_path):
    foldx = spark.createDataFrame(
        [
            ("P1", 10, "A", "G", 0.9, 1.5),
            ("P1", 11, "A", "G", 0.5, 9.0),  # below plddt: dropped
        ],
        "protein_acc string, position int, wild_type string, "
        "mutated_type string, plddt double, foldx_ddg double",
    )
    fp = str(tmp_path / "foldx_in.parquet")
    foldx.write.parquet(fp)
    out = str(tmp_path / "foldx.parquet")
    df = run_step(
        spark, "foldx_ingestion", {"foldx_dataset": fp}, out,
        {"plddt_threshold": 0.7},
    )
    rows = df.collect()
    assert len(rows) == 1


def test_run_bloom_prune_step(spark, tmp_path):
    """Composed bloom_prune step: prune orders by a Bloom filter over
    BUILDING customers — superset of the exact semi join (no false
    negatives), subset of the full fact table."""
    out = run_step(
        spark,
        "bloom_prune",
        {"fact": f"{SF}/orders.parquet", "dimension": f"{SF}/customer.parquet"},
        str(tmp_path / "pruned.parquet"),
        params={
            "fact_key": "o_custkey",
            "dim_key": "c_custkey",
            "dim_filter": "c_mktsegment = 'BUILDING'",
            "m_bits": 4096,
            "k": 3,
        },
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    building = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .where("c_mktsegment = 'BUILDING'")
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
    )
    n_true = orders.join(building, "o_custkey", "left_semi").count()
    n_pruned = out.count()
    assert n_true <= n_pruned <= orders.count()
    # no false negatives: every true match survives the pruning
    missed = (
        orders.join(building, "o_custkey", "left_semi")
        .join(out.select("o_orderkey"), "o_orderkey", "left_anti")
        .count()
    )
    assert missed == 0


def test_run_corpus_overlap_step(spark, tmp_path):
    """Composed corpus_overlap step: KMV overlap between two document
    corpora — identical corpora estimate Jaccard 1, disjoint corpora
    estimate 0; estimates stay within the sketch's error band."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    left = str(tmp_path / "left.parquet")
    right = str(tmp_path / "right.parquet")
    docs.write.mode("overwrite").parquet(left)
    docs.write.mode("overwrite").parquet(right)
    same = run_step(
        spark,
        "corpus_overlap",
        {"left": left, "right": right},
        str(tmp_path / "o1.parquet"),
        params={"k": 64},
    ).collect()[0]
    assert same.estJaccard == 1.0

    # disjoint token spaces: salt every token of the right corpus
    salted = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"(\S+)", r"zq$1zq").alias("text"),
    )
    salted.write.mode("overwrite").parquet(right)
    disjoint = run_step(
        spark,
        "corpus_overlap",
        {"left": left, "right": right},
        str(tmp_path / "o2.parquet"),
        params={"k": 64},
    ).collect()[0]
    assert disjoint.estJaccard < 0.05


def test_run_lsh_band_index_step(spark, tmp_path):
    """The lsh_band_index sink step materializes the corpus band
    table as a catalog table bucketed by (bandIdx, bandHash), pins
    the band parameters as table properties, and the persisted table
    drives incremental_lsh_candidates to the exact same candidate
    pairs as inline banding."""
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(50)
    corpus_path = str(tmp_path / "corpus.parquet")
    corpus.write.mode("overwrite").parquet(corpus_path)
    spark.sql("DROP TABLE IF EXISTS band_index_step_test")
    try:
        out = run_step(
            spark,
            "lsh_band_index",
            {"corpus": corpus_path},
            "band_index_step_test",
            params={"num_buckets": 4},
        )
        assert out is None  # sink step writes the table itself
        persisted = spark.table("band_index_step_test")
        assert persisted.columns == ["docId", "bandIdx", "bandHash"]
        # band parameters pinned to the table (index identity)
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                "SHOW TBLPROPERTIES band_index_step_test"
            ).collect()
        }
        assert props["genetics_spark_coloc.num_perm"] == "8"
        assert props["genetics_spark_coloc.band_size"] == "2"
        # bucketed layout recorded in the catalog
        ddl = spark.sql(
            "SHOW CREATE TABLE band_index_step_test"
        ).collect()[0][0]
        assert "CLUSTERED BY (bandIdx, bandHash)" in ddl, ddl
        fast = {
            (r["deltaId"], r["indexId"])
            for r in incremental_lsh_candidates(
                delta, index_bands=persisted
            ).collect()
        }
        slow = {
            (r["deltaId"], r["indexId"])
            for r in incremental_lsh_candidates(delta, corpus).collect()
        }
        assert fast == slow and fast
        # exactly one of index / index_bands is accepted
        with pytest.raises(ValueError, match="exactly one"):
            incremental_lsh_candidates(delta)
        with pytest.raises(ValueError, match="exactly one"):
            incremental_lsh_candidates(delta, corpus, index_bands=persisted)
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_step_test")
        spark.sql("DROP TABLE IF EXISTS band_index_step_test_bucket_counts")


def test_run_ivf_index_step(spark, tmp_path):
    """The ivf_index sink step persists the inverted lists partitioned
    by centroidId (one directory per list) and the read-back table
    drives ivf_topk to the same neighbours as inline assignment."""
    import os

    from genetics_spark_coloc_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    cent_path = str(tmp_path / "centroids.parquet")
    emb.write.mode("overwrite").parquet(corpus_path)
    emb.limit(8).write.mode("overwrite").parquet(cent_path)
    out = str(tmp_path / "ivf_index")
    assert (
        run_step(
            spark,
            "ivf_index",
            {"corpus": corpus_path, "centroids": cent_path},
            out,
        )
        is None
    )
    # hive-style layout: one directory per inverted list
    list_dirs = [d for d in os.listdir(out) if d.startswith("centroidId=")]
    assert 1 <= len(list_dirs) <= 8
    persisted = spark.read.parquet(out)
    centroids = spark.read.parquet(cent_path)
    queries = emb.limit(4)
    fast = {
        (r["queryId"], r["rank"]): r["neighborId"]
        for r in ivf_topk(
            emb, queries, centroids, k=3, nprobe=2, members=persisted
        ).collect()
    }
    slow = {
        (r["queryId"], r["rank"]): r["neighborId"]
        for r in ivf_topk(emb, queries, centroids, k=3, nprobe=2).collect()
    }
    assert fast == slow and fast


def test_load_lsh_band_index_validates_band_params(spark, tmp_path):
    """The guarded loader rejects a band-parameter mismatch loudly —
    mismatched banding never matches any delta hash and would
    otherwise return zero candidates silently."""
    from genetics_spark_coloc_spark.operators.dedup import (
        load_lsh_band_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus_path = str(tmp_path / "c.parquet")
    docs.limit(50).write.mode("overwrite").parquet(corpus_path)
    spark.sql("DROP TABLE IF EXISTS band_index_loader_test")
    try:
        run_step(
            spark,
            "lsh_band_index",
            {"corpus": corpus_path},
            "band_index_loader_test",
            params={"num_buckets": 2, "num_perm": 8, "band_size": 2},
        )
        ok = load_lsh_band_index(spark, "band_index_loader_test", 8, 2)
        assert ok.columns == ["docId", "bandIdx", "bandHash"]
        with pytest.raises(ValueError, match="num_perm=8"):
            load_lsh_band_index(spark, "band_index_loader_test", 16, 2)
        with pytest.raises(ValueError, match="band_size=2"):
            load_lsh_band_index(spark, "band_index_loader_test", 8, 4)
        # ceiling certification: the step recorded max bucket
        # occupancy at build time; a generous ceiling passes, one
        # below the recorded occupancy refuses to certify
        recorded = int(
            {
                r["key"]: r["value"]
                for r in spark.sql(
                    "SHOW TBLPROPERTIES band_index_loader_test"
                ).collect()
            }["genetics_spark_coloc.max_bucket_count"]
        )
        assert recorded >= 1
        certified = load_lsh_band_index(
            spark, "band_index_loader_test", hot_bucket_ceiling=recorded
        )
        from genetics_spark_coloc_spark.operators.dedup import (
            incremental_lsh_candidates,
        )

        delta = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
        guard_free = incremental_lsh_candidates(
            delta, index_bands=certified, index_guard=False
        )
        guarded = incremental_lsh_candidates(delta, index_bands=certified)
        key = lambda df: {  # noqa: E731
            (r["deltaId"], r["indexId"]) for r in df.collect()
        }
        assert key(guard_free) == key(guarded)
        with pytest.raises(ValueError, match="max_bucket_count"):
            load_lsh_band_index(
                spark, "band_index_loader_test", hot_bucket_ceiling=recorded - 1
            )
        with pytest.raises(ValueError, match="index_guard=False requires"):
            incremental_lsh_candidates(delta, docs, index_guard=False)
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_loader_test")
        spark.sql("DROP TABLE IF EXISTS band_index_loader_test_bucket_counts")


def test_lsh_band_index_hot_bucket_across_appends_trips_certification(
    spark, tmp_path
):
    """O(delta) append re-certification must count touched buckets
    AGAINST HISTORY, not just within the delta: a hot bucket formed
    across the build + two appends (no single batch over the ceiling
    alone) must still raise the certified max_bucket_count and make a
    ceiling-gated load refuse the table. Also cross-checks that the
    ledger-derived certification equals a direct full scan of the
    band table — the exactness claim that lets the append path skip
    that scan."""
    from genetics_spark_coloc_spark.operators.dedup import (
        load_lsh_band_index,
    )

    # identical texts share every band hash, so each batch adds its
    # copy-count to the SAME buckets; unique filler docs keep the
    # batches non-degenerate
    shared = "the quick brown fox jumps over the lazy dog again and again"

    def batch(start_id, n_copies, n_unique):
        rows = [(start_id + i, shared) for i in range(n_copies)]
        # filler docs need enough distinct tokens that every minhash
        # permutation sees a real shingle population (very short docs
        # degenerate to shared sentinel hashes in the high bands)
        rows += [
            (
                start_id + n_copies + i,
                " ".join(
                    f"w{start_id}x{i}t{j}v{(i * 7 + j * 13) % 97}"
                    for j in range(30)
                ),
            )
            for i in range(n_unique)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    paths = []
    for i, b in enumerate(
        [batch(0, 3, 10), batch(100, 3, 10), batch(200, 3, 10)]
    ):
        pth = str(tmp_path / f"day{i}.parquet")
        b.write.mode("overwrite").parquet(pth)
        paths.append(pth)
    tbl = "band_index_hot_across"
    # band_size=4 (16 perms / 4 bands): cross-filler band-hash
    # collisions are vanishingly rare, so bucket occupancy is driven
    # by the planted identical docs alone
    band_params = {"num_perm": 16, "band_size": 4}
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
    try:
        run_step(spark, "lsh_band_index", {"corpus": paths[0]}, tbl,
                 params={"num_buckets": 4, **band_params})
        props = lambda: {  # noqa: E731
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        after_build = int(props()["genetics_spark_coloc.max_bucket_count"])
        assert after_build == 3  # 3 identical docs in one batch
        run_step(spark, "lsh_band_index", {"corpus": paths[1]}, tbl,
                 params={"mode": "append", **band_params})
        assert int(props()["genetics_spark_coloc.max_bucket_count"]) == 6
        run_step(spark, "lsh_band_index", {"corpus": paths[2]}, tbl,
                 params={"mode": "append", **band_params})
        certified = int(props()["genetics_spark_coloc.max_bucket_count"])
        assert certified == 9  # 3 batches x 3 copies, no batch alone > 3
        # the certification is exact: ledger math == full band scan
        direct = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert certified == direct
        # a ceiling below the cross-append occupancy refuses the table
        with pytest.raises(ValueError, match="max_bucket_count"):
            load_lsh_band_index(
                spark, tbl, hot_bucket_ceiling=5, **band_params
            )
        load_lsh_band_index(  # at-bound ok
            spark, tbl, hot_bucket_ceiling=9, **band_params
        )
        # the ledger itself is consistent: per-bucket sums equal the
        # band table's true per-bucket counts
        ledger = (
            spark.table(f"{tbl}_bucket_counts")
            .groupBy("bandIdx", "bandHash")
            .agg(F.sum("c").alias("total"))
        )
        true_counts = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .agg(F.count(F.lit(1)).alias("total"))
        )
        assert ledger.exceptAll(true_counts).count() == 0
        assert true_counts.exceptAll(ledger).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")


def test_lsh_band_index_append_seeds_missing_ledger(spark, tmp_path):
    """Appending to a PRE-SIDECAR index (no counts ledger — e.g.
    built by an older checkout) falls back to one full recompute that
    also seeds the ledger, so the next append is O(delta) again."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    day1 = docs.filter(F.col("doc_id") % 4 == 0)
    day2 = docs.filter(F.col("doc_id") % 4 == 2)
    p1, p2 = str(tmp_path / "d1.parquet"), str(tmp_path / "d2.parquet")
    day1.write.mode("overwrite").parquet(p1)
    day2.write.mode("overwrite").parquet(p2)
    tbl = "band_index_preledger"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
    try:
        run_step(spark, "lsh_band_index", {"corpus": p1}, tbl,
                 params={"num_buckets": 4})
        # simulate the pre-sidecar world
        spark.sql(f"DROP TABLE {tbl}_bucket_counts")
        run_step(spark, "lsh_band_index", {"corpus": p2}, tbl,
                 params={"mode": "append"})
        assert spark.catalog.tableExists(f"{tbl}_bucket_counts")
        # certification still equals the direct full-scan max
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        direct = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert int(props["genetics_spark_coloc.max_bucket_count"]) == direct
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")


def test_lsh_band_index_append_mode_grows_index_incrementally(spark, tmp_path):
    """The daily-crawl loop: build the index on half the corpus,
    APPEND the other half's bands (history never re-banded), and the
    grown index drives incremental_lsh_candidates to exactly the
    pairs of an index built on the full corpus in one shot; the
    bucket-ceiling certification is recomputed over the grown table."""
    from genetics_spark_coloc_spark.operators.dedup import (
        incremental_lsh_candidates,
        load_lsh_band_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    day1 = docs.filter(F.col("doc_id") % 4 == 0)
    day2 = docs.filter(F.col("doc_id") % 4 == 2)
    full = day1.unionByName(day2)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(40)
    p1, p2, pf = (str(tmp_path / n) for n in ("d1.parquet", "d2.parquet", "full.parquet"))
    day1.write.mode("overwrite").parquet(p1)
    day2.write.mode("overwrite").parquet(p2)
    full.write.mode("overwrite").parquet(pf)
    for t in ("band_index_grown", "band_index_oneshot"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        run_step(spark, "lsh_band_index", {"corpus": p1}, "band_index_grown",
                 params={"num_buckets": 4})
        run_step(spark, "lsh_band_index", {"corpus": p2}, "band_index_grown",
                 params={"num_buckets": 4, "mode": "append"})
        run_step(spark, "lsh_band_index", {"corpus": pf}, "band_index_oneshot",
                 params={"num_buckets": 4})
        grown_rows = spark.table("band_index_grown")
        oneshot_rows = spark.table("band_index_oneshot")
        assert grown_rows.count() == oneshot_rows.count()
        # certification recomputed over the grown table == one-shot's
        props = lambda t: {  # noqa: E731
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {t}").collect()
        }
        assert (
            props("band_index_grown")["genetics_spark_coloc.max_bucket_count"]
            == props("band_index_oneshot")["genetics_spark_coloc.max_bucket_count"]
        )
        key = lambda df: {  # noqa: E731
            (r["deltaId"], r["indexId"]) for r in df.collect()
        }
        grown = load_lsh_band_index(spark, "band_index_grown", hot_bucket_ceiling=10_000)
        oneshot = load_lsh_band_index(spark, "band_index_oneshot")
        got = key(incremental_lsh_candidates(delta, index_bands=grown, index_guard=False))
        assert got == key(incremental_lsh_candidates(delta, index_bands=oneshot))
        assert got, "probe produced no candidates"
        # appending with mismatched band params is refused before any write
        with pytest.raises(ValueError, match="num_perm"):
            run_step(spark, "lsh_band_index", {"corpus": p2}, "band_index_grown",
                     params={"mode": "append", "num_perm": 16})
    finally:
        for t in ("band_index_grown", "band_index_oneshot"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}_bucket_counts")


def test_run_bucket_layout_step_joins_without_shuffle(spark, tmp_path):
    """Two tables laid out by the bucket_layout step on the same key
    join with zero hash-partitioned exchanges — the generic at-rest
    co-location device, verified on the physical plan."""
    left = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    lp, rp = str(tmp_path / "l.parquet"), str(tmp_path / "r.parquet")
    left.write.mode("overwrite").parquet(lp)
    right.write.mode("overwrite").parquet(rp)
    for t in ("bl_left", "bl_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        for path, t in ((lp, "bl_left"), (rp, "bl_right")):
            assert (
                run_step(
                    spark,
                    "bucket_layout",
                    {"table": path},
                    t,
                    params={"bucket_columns": "k", "sort_columns": "k",
                            "num_buckets": 8},
                )
                is None
            )
        joined = spark.table("bl_left").join(spark.table("bl_right"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() == 5_000
        with pytest.raises(ValueError, match="bucket_columns"):
            run_step(spark, "bucket_layout", {"table": lp}, "bl_bad")
    finally:
        for t in ("bl_left", "bl_right", "bl_bad"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_load_ivf_index_roundtrip(spark, tmp_path):
    """The ivf_index step ships its build-time centroids and column
    contract inside the index; load_ivf_index returns all three, and
    searching with them (corpus=None) equals the inline path."""
    from genetics_spark_coloc_spark.operators.similarity import (
        ivf_topk,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    cent_path = str(tmp_path / "centroids.parquet")
    emb.write.mode("overwrite").parquet(corpus_path)
    emb.limit(8).write.mode("overwrite").parquet(cent_path)
    out = str(tmp_path / "ivf_index")
    run_step(spark, "ivf_index", {"corpus": corpus_path, "centroids": cent_path}, out)
    members, cents, meta = load_ivf_index(spark, out)
    assert meta == {"id_col": "vec_id", "vec_col": "embedding", "n_centroids": 8}
    assert cents.count() == 8
    # the shipped centroids are invisible to a plain read of the root
    assert "centroidId" in members.columns
    queries = emb.limit(4)
    loaded = {
        (r["queryId"], r["rank"]): r["neighborId"]
        for r in ivf_topk(
            None, queries, cents, k=3, nprobe=2, members=members,
            id_col=meta["id_col"], vec_col=meta["vec_col"],
        ).collect()
    }
    inline = {
        (r["queryId"], r["rank"]): r["neighborId"]
        for r in ivf_topk(
            emb, queries, spark.read.parquet(cent_path), k=3, nprobe=2
        ).collect()
    }
    assert loaded == inline and loaded
    with pytest.raises(ValueError, match="corpus.*or.*members"):
        ivf_topk(None, queries, cents, k=3)
    with pytest.raises(ValueError, match="_ivf_meta.json missing"):
        load_ivf_index(spark, corpus_path)


def test_run_corpus_drift_step(spark, tmp_path):
    """The corpus_drift step gates an ingest batch on length-
    distribution PSI: identical snapshots score 0, a doubled-text
    current snapshot alerts."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    ref = str(tmp_path / "ref.parquet")
    cur = str(tmp_path / "cur.parquet")
    docs.write.mode("overwrite").parquet(ref)
    docs.select(
        "doc_id", F.concat("text", F.lit(" "), "text").alias("text")
    ).write.mode("overwrite").parquet(cur)
    same = run_step(
        spark, "corpus_drift", {"reference": ref, "current": ref},
        str(tmp_path / "same.parquet"),
    ).collect()[0]
    assert same["psi"] == 0.0 and not same["driftAlert"]
    moved = run_step(
        spark, "corpus_drift", {"reference": ref, "current": cur},
        str(tmp_path / "moved.parquet"), params={"metric": "tokens", "hi": 256.0},
    ).collect()[0]
    assert moved["psi"] > 0.2 and moved["driftAlert"]


def test_lsh_band_index_ledger_self_compacts(spark, tmp_path):
    """The counts ledger gains one row per (append x touched bucket);
    past 4x the distinct-bucket count it re-aggregates to one row per
    bucket, so a long daily-append history keeps the O(delta)
    re-certification read at O(buckets). Certification stays exact
    through compaction."""
    docs = spark.createDataFrame(
        [(i, f"w{i}a{j} " * 3 + " ".join(f"t{i}x{j}k{j2}" for j2 in range(20)))
         for i in range(5) for j in [i]],
        "doc_id long, text string",
    )
    tbl = "band_index_compact_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
    base = str(tmp_path / "base.parquet")
    docs.write.mode("overwrite").parquet(base)
    try:
        run_step(spark, "lsh_band_index", {"corpus": base}, tbl,
                 params={"num_buckets": 4})
        # six appends of the SAME docs (new ids): every append touches
        # the same buckets, so ledger rows grow ~7x distinct buckets
        # without compaction
        for a in range(1, 7):
            delta = docs.select(
                (F.col("doc_id") + 1000 * a).alias("doc_id"), "text"
            )
            p = str(tmp_path / f"a{a}.parquet")
            delta.write.mode("overwrite").parquet(p)
            run_step(spark, "lsh_band_index", {"corpus": p}, tbl,
                     params={"mode": "append"})
        ledger = spark.table(f"{tbl}_bucket_counts")
        n_rows = ledger.count()
        n_buckets = ledger.select("bandIdx", "bandHash").distinct().count()
        assert n_rows <= 4 * n_buckets + n_buckets, (
            f"ledger never compacted: {n_rows} rows for {n_buckets} buckets"
        )
        # certification stayed exact through compaction: 7 copies of
        # each identical doc across build + 6 appends
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        direct = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert int(props["genetics_spark_coloc.max_bucket_count"]) == direct
        # ledger still sums to truth
        sums = (
            ledger.groupBy("bandIdx", "bandHash").agg(F.sum("c").alias("t"))
        )
        true_c = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .agg(F.count(F.lit(1)).alias("t"))
        )
        assert sums.exceptAll(true_c).count() == 0
        assert true_c.exceptAll(sums).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")


def test_ivf_index_append_mode(spark, tmp_path):
    """ANN twin of the band-index daily-append: build the inverted
    lists on half the corpus, append the other half (assigned with
    the index's OWN shipped centroids), and the grown index equals a
    one-shot build — identical member assignments and identical
    ivf_topk neighbours. Foreign centroids are refused before any
    write; so is a column-contract mismatch."""
    from genetics_spark_coloc_spark.operators.similarity import (
        ivf_topk,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    p1, p2, pf, pc = (
        str(tmp_path / n)
        for n in ("h1.parquet", "h2.parquet", "full.parquet", "cent.parquet")
    )
    half1.write.mode("overwrite").parquet(p1)
    half2.write.mode("overwrite").parquet(p2)
    emb.write.mode("overwrite").parquet(pf)
    emb.limit(8).write.mode("overwrite").parquet(pc)
    grown, oneshot = str(tmp_path / "ivf_grown"), str(tmp_path / "ivf_oneshot")
    run_step(spark, "ivf_index", {"corpus": p1, "centroids": pc}, grown)
    run_step(spark, "ivf_index", {"corpus": p2, "centroids": pc}, grown,
             params={"mode": "append"})
    run_step(spark, "ivf_index", {"corpus": pf, "centroids": pc}, oneshot)
    g_members, g_cents, g_meta = load_ivf_index(spark, grown)
    o_members, _, _ = load_ivf_index(spark, oneshot)
    key = lambda df: {  # noqa: E731
        r["vid"]: r["centroidId"]
        for r in df.select("vid", "centroidId").collect()
    }
    assert key(g_members) == key(o_members)
    # search parity over the grown index
    queries = emb.limit(4)
    nn = lambda m: {  # noqa: E731
        (r["queryId"], r["rank"]): r["neighborId"]
        for r in ivf_topk(
            None, queries, g_cents, members=m, id_col=g_meta["id_col"],
            vec_col=g_meta["vec_col"],
        ).collect()
    }
    assert nn(g_members) == nn(o_members)
    # foreign centroids refused before any write
    bad_c = str(tmp_path / "bad_cent.parquet")
    emb.limit(9).write.mode("overwrite").parquet(bad_c)
    with pytest.raises(ValueError, match="build-time centroids"):
        run_step(spark, "ivf_index", {"corpus": p2, "centroids": bad_c},
                 grown, params={"mode": "append"})
    with pytest.raises(ValueError, match="built with columns"):
        run_step(spark, "ivf_index", {"corpus": p2, "centroids": pc},
                 grown, params={"mode": "append", "id_col": "other"})


def test_line_freq_and_line_scrub_steps(spark, tmp_path):
    """The C4-scrub production loop as CLI steps: line_freq persists
    corpus segment frequencies once; line_scrub cleans a DELTA against
    that table (corpus evidence, not delta self-counts)."""
    footer = "subscribe to our newsletter for updates"
    corpus_path = str(tmp_path / "scrub_corpus.parquet")
    spark.createDataFrame(
        [(i, f"corpus unique line {i}\n{footer}") for i in range(15)],
        "doc_id long, text string",
    ).write.parquet(corpus_path)
    freq_out = str(tmp_path / "line_freq.parquet")
    freq = run_step(spark, "line_freq", {"corpus": corpus_path}, freq_out)
    # every corpus line hashed once; footer counted 15x
    assert freq.filter("segCount = 15").count() == 1

    delta_path = str(tmp_path / "scrub_delta.parquet")
    spark.createDataFrame(
        [(100, f"fresh delta content\n{footer}")],
        "doc_id long, text string",
    ).write.parquet(delta_path)
    out = str(tmp_path / "scrubbed.parquet")
    cleaned = run_step(
        spark, "line_scrub", {"docs": delta_path}, out, {"freq": freq_out}
    )
    row = cleaned.collect()[0]
    assert (row["nDropped"], row["cleanText"]) == (1, "fresh delta content")


def test_run_ivfpq_index_step(spark, tmp_path):
    """The ivfpq_index sink step (r11 task #2) persists the residual
    code lists partitioned by centroidId with the build-time coarse
    centroids AND PQ codebooks shipped inside; the read-back index +
    shipped artifacts drive ivfpq_topk to exactly the inline result."""
    import os

    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        ivfpq_index,
        ivfpq_topk,
        load_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    cent_path = str(tmp_path / "centroids.parquet")
    cb_path = str(tmp_path / "codebooks.parquet")
    emb.write.mode("overwrite").parquet(corpus_path)
    emb.filter(F.col("vec_id") < 4).write.mode("overwrite").parquet(cent_path)
    codebooks_from_first_k(emb, m=4, k=16, dim=64).write.mode(
        "overwrite"
    ).parquet(cb_path)
    out = str(tmp_path / "ivfpq_index")
    assert (
        run_step(
            spark,
            "ivfpq_index",
            {"corpus": corpus_path, "centroids": cent_path, "codebooks": cb_path},
            out,
        )
        is None
    )
    # hive-style layout: one directory per inverted code list
    list_dirs = [d for d in os.listdir(out) if d.startswith("centroidId=")]
    assert 1 <= len(list_dirs) <= 4
    index, cents, cbs, meta = load_ivfpq_index(spark, out)
    assert meta["m"] == 4 and meta["sub_dim"] == 16
    assert meta["id_col"] == "vec_id" and meta["n_centroids"] == 4
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    key = lambda df: {  # noqa: E731
        (r["queryId"], r["rank"]): (r["neighborId"], r["adcDist"])
        for r in df.collect()
    }
    persisted = key(ivfpq_topk(index, cents, cbs, queries, k=3, nprobe=2))
    centroids = spark.read.parquet(cent_path)
    codebooks = spark.read.parquet(cb_path)
    inline = key(
        ivfpq_topk(
            ivfpq_index(emb, centroids, codebooks),
            centroids,
            codebooks,
            queries,
            k=3,
            nprobe=2,
        )
    )
    assert persisted == inline and persisted


def test_run_ivfpq_index_append(spark, tmp_path):
    """Append mode encodes ONLY the delta against the FROZEN shipped
    artifacts; the appended index searches identically to a full
    rebuild over the union corpus. Wrong centroids and wrong
    codebooks are both rejected before any write."""
    import pytest as _pytest

    from genetics_spark_coloc_spark.operators.pq import (
        codebooks_from_first_k,
        ivfpq_index,
        ivfpq_topk,
        load_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    paths = {n: str(tmp_path / f"{n}.parquet") for n in
             ("base", "delta", "cent", "cb", "badcent", "badcb")}
    base.write.parquet(paths["base"])
    delta.write.parquet(paths["delta"])
    emb.filter(F.col("vec_id") < 4).write.parquet(paths["cent"])
    codebooks_from_first_k(emb, m=4, k=16, dim=64).write.parquet(paths["cb"])
    # foreign artifacts: different centroid set / k=8 codebooks
    emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)).write.parquet(
        paths["badcent"]
    )
    codebooks_from_first_k(emb, m=4, k=8, dim=64).write.parquet(paths["badcb"])
    out = str(tmp_path / "idx")
    run_step(
        spark,
        "ivfpq_index",
        {"corpus": paths["base"], "centroids": paths["cent"],
         "codebooks": paths["cb"]},
        out,
    )
    with _pytest.raises(ValueError, match="centroids differ"):
        run_step(
            spark,
            "ivfpq_index",
            {"corpus": paths["delta"], "centroids": paths["badcent"],
             "codebooks": paths["cb"]},
            out,
            params={"mode": "append"},
        )
    with _pytest.raises(ValueError, match="codebooks differ"):
        run_step(
            spark,
            "ivfpq_index",
            {"corpus": paths["delta"], "centroids": paths["cent"],
             "codebooks": paths["badcb"]},
            out,
            params={"mode": "append"},
        )
    run_step(
        spark,
        "ivfpq_index",
        {"corpus": paths["delta"], "centroids": paths["cent"],
         "codebooks": paths["cb"]},
        out,
        params={"mode": "append"},
    )
    index, cents, cbs, _meta = load_ivfpq_index(spark, out)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    key = lambda df: {  # noqa: E731
        (r["queryId"], r["rank"]): (r["neighborId"], r["adcDist"])
        for r in df.collect()
    }
    appended = key(ivfpq_topk(index, cents, cbs, queries, k=3, nprobe=2))
    centroids = spark.read.parquet(paths["cent"])
    codebooks = spark.read.parquet(paths["cb"])
    rebuilt = key(
        ivfpq_topk(
            ivfpq_index(emb, centroids, codebooks),
            centroids,
            codebooks,
            queries,
            k=3,
            nprobe=2,
        )
    )
    assert appended == rebuilt and appended


def test_line_freq_append_and_compact_preserve_scrub(spark, tmp_path):
    """VERDICT r11 task #7: the nightly line_freq loop — build, append
    a crawl shard, then COMPACT in place. Compaction re-aggregates to
    one row per segHash; by the table's additive contract (consumers
    SUM per hash) the scrub output must be BIT-EXACT before and after."""
    boiler = "this cookie banner line appears everywhere"
    docs1 = spark.createDataFrame(
        [("a", f"{boiler}\nunique alpha content line"),
         ("b", f"{boiler}\nunique beta content line")],
        "doc_id string, text string",
    )
    docs2 = spark.createDataFrame(
        [("c", f"{boiler}\nunique gamma content line")],
        "doc_id string, text string",
    )
    p1, p2 = str(tmp_path / "d1.parquet"), str(tmp_path / "d2.parquet")
    docs1.write.parquet(p1)
    docs2.write.parquet(p2)
    freq = str(tmp_path / "line_freq")
    run_step(spark, "line_freq", {"corpus": p1}, freq)
    run_step(spark, "line_freq", {"corpus": p2}, freq, params={"mode": "append"})
    # appended shards: duplicate segHash rows present
    tbl = spark.read.parquet(freq)
    assert tbl.count() > tbl.select("segHash").distinct().count()
    scrub = lambda: sorted(  # noqa: E731
        run_step(
            spark,
            "line_scrub",
            {"docs": p1},
            str(tmp_path / "scrubbed"),
            params={"freq": freq, "max_count": 2},
        ).collect()
    )
    before = scrub()
    # the boilerplate line (freq 3 > max_count 2) dropped, uniques kept
    assert all(boiler not in r["cleanText"] for r in before)
    assert all(r["nDropped"] == 1 for r in before)
    run_step(spark, "line_freq", {"corpus": freq}, freq, params={"mode": "compact"})
    tbl2 = spark.read.parquet(freq)
    assert tbl2.count() == tbl2.select("segHash").distinct().count()
    assert scrub() == before


def test_run_cc_labels_build_append_compact(spark, tmp_path):
    """The cc_labels at-rest lifecycle (r12): build once, fold two
    delta batches at O(delta), compact. After EVERY stage the resolved
    labeling equals a full CC recompute over all edges so far, the
    alias sidecar stays one-hop, and compaction is bit-exact."""
    import os

    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        load_cc_labels,
    )

    def edges_df(rows):
        return spark.createDataFrame(rows, "leftId long, rightId long")

    def write(rows, name):
        path = str(tmp_path / f"{name}.parquet")
        edges_df(rows).write.parquet(path)
        return path

    def full(rows):
        ids = sorted({v for e in rows for v in e})
        v = spark.createDataFrame([(i,) for i in ids], "id long")
        return {
            r["id"]: r["component"]
            for r in connected_components(v, edges_df(rows)).collect()
        }

    def resolved(out):
        return {
            r["id"]: r["component"]
            for r in load_cc_labels(spark, out).collect()
        }

    # build: two chains {1,2,3} and {10,11}
    e0 = [(1, 2), (2, 3), (10, 11)]
    # day 1: merge the chains through a new vertex 30
    e1 = [(3, 30), (30, 11)]
    # day 2: a new vertex 0 (smaller than everything) grabs the merged
    # cluster AND its own newcomer 40 — exercises alias RE-TARGETING
    # (day 1 aliased 10 -> 1; day 2 must re-point it at 0, one hop)
    e2 = [(0, 30), (0, 40)]
    out = str(tmp_path / "cc_labels")
    run_step(spark, "cc_labels", {"edges": write(e0, "e0")}, out)
    assert resolved(out) == full(e0)
    run_step(
        spark, "cc_labels", {"edges": write(e1, "e1")}, out,
        params={"mode": "append"},
    )
    assert resolved(out) == full(e0 + e1)
    run_step(
        spark, "cc_labels", {"edges": write(e2, "e2")}, out,
        params={"mode": "append"},
    )
    want = full(e0 + e1 + e2)
    assert resolved(out) == want
    # one-hop contract: every alias target is itself canonical
    from genetics_spark_coloc_spark.operators.graph import _alias_state

    alias_df, epoch = _alias_state(spark, out)
    assert alias_df is not None and epoch >= 1
    aliases = {r["oldComp"]: r["newComp"] for r in alias_df.collect()}
    assert aliases and all(t not in aliases for t in aliases.values())
    # day-1's 10 -> 1 alias must have re-targeted to 0 on day 2
    assert aliases[10] == 0
    # superseded epochs (and the legacy path) are cleaned as folds land
    assert [
        n for n in os.listdir(out) if n.startswith("_aliases")
    ] == [f"_aliases_e{epoch}"]
    # compact: sidecar folds into the shards, labeling bit-exact
    # compact ignores the edges input; any valid path satisfies the spec
    run_step(
        spark, "cc_labels", {"edges": str(tmp_path / "e0.parquet")}, out,
        params={"mode": "compact"},
    )
    assert not [n for n in os.listdir(out) if n.startswith("_aliases")]
    assert resolved(out) == want


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_cc_labels_random_multi_append_equals_full(spark, tmp_path, seed):
    """Randomized lifecycle pin for the alias composition: FOUR
    successive folds of random edge batches (mixing old, recent, and
    brand-new vertices) must keep the resolved labeling equal to the
    full recompute after every fold, with the sidecar one-hop
    throughout — the invariant that makes load_cc_labels a single
    broadcast join no matter how long the append history grows."""
    import os
    import random

    from genetics_spark_coloc_spark.operators.graph import (
        connected_components,
        load_cc_labels,
    )

    rng = random.Random(seed)

    def edges_df(rows):
        return spark.createDataFrame(rows, "leftId long, rightId long")

    def full(rows):
        ids = sorted({v for e in rows for v in e})
        v = spark.createDataFrame([(i,) for i in ids], "id long")
        return {
            r["id"]: r["component"]
            for r in connected_components(v, edges_df(rows)).collect()
        }

    out = str(tmp_path / "cc")
    seen: list = []
    hi = 30
    batch = [
        (rng.randrange(hi), rng.randrange(hi)) for _ in range(20)
    ]
    batch = [(a, b) for a, b in batch if a != b]
    p0 = str(tmp_path / "b0.parquet")
    edges_df(batch).write.parquet(p0)
    run_step(spark, "cc_labels", {"edges": p0}, out)
    seen += batch
    for day in range(1, 5):
        lo, hi = hi, hi + 15
        batch = [
            (rng.randrange(hi), rng.randrange(lo, hi)) for _ in range(12)
        ]
        batch = [(a, b) for a, b in batch if a != b]
        path = str(tmp_path / f"b{day}.parquet")
        edges_df(batch).write.parquet(path)
        run_step(
            spark, "cc_labels", {"edges": path}, out,
            params={"mode": "append"},
        )
        seen += batch
        got = {
            r["id"]: r["component"]
            for r in load_cc_labels(spark, out).collect()
        }
        assert got == full(seen), f"day {day} diverged"
        from genetics_spark_coloc_spark.operators.graph import _alias_state

        alias_df, _ = _alias_state(spark, out)
        if alias_df is not None:
            aliases = {
                r["oldComp"]: r["newComp"] for r in alias_df.collect()
            }
            assert all(t not in aliases for t in aliases.values()), (
                f"day {day}: alias chain formed"
            )


def test_line_freq_compact_crash_windows_self_heal(spark, tmp_path):
    """The line-frequency table IS the corpus evidence (the original
    crawls are gone), so its in-place compaction gets the same
    crash contract as cc_labels: tmp-write → delete → rename, with
    every consumer finishing an interrupted rename. Plant both crash
    windows and assert no state is ever torn."""
    docs = spark.createDataFrame(
        [(i, "the same line " + ("x" if i % 2 else "y")) for i in range(20)],
        "doc_id long, text string",
    )
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    freq_p = str(tmp_path / "freq.parquet")
    run_step(spark, "line_freq", {"corpus": docs_p}, freq_p, params={"sep": " "})
    run_step(
        spark, "line_freq", {"corpus": docs_p}, freq_p,
        params={"sep": " ", "mode": "append"},
    )
    want = {
        r["segHash"]: r["segCount"]
        for r in spark.read.parquet(freq_p)
        .groupBy("segHash").sum("segCount")
        .withColumnRenamed("sum(segCount)", "segCount").collect()
    }

    # window (b): committed tmp, table deleted (crash between delete
    # and rename) — the next append self-heals before writing
    compacted = (
        spark.read.parquet(freq_p)
        .groupBy("segHash").agg(F.sum("segCount").alias("segCount"))
    )
    tmp = freq_p + "__compacting"
    compacted.write.parquet(tmp)
    shutil.rmtree(freq_p)
    run_step(
        spark, "line_freq", {"corpus": docs_p}, freq_p,
        params={"sep": " ", "mode": "append"},
    )
    got = {
        r["segHash"]: r["segCount"]
        for r in spark.read.parquet(freq_p)
        .groupBy("segHash").sum("segCount")
        .withColumnRenamed("sum(segCount)", "segCount").collect()
    }
    # recovered table + one more shard of the same corpus = 1.5x counts
    assert got == {k: v + v // 2 for k, v in want.items()}
    assert not os.path.exists(tmp)

    # window (a): stale tmp with the table intact (crash before the
    # delete) — compact discards the tmp and completes normally
    compacted2 = (
        spark.read.parquet(freq_p)
        .groupBy("segHash").agg(F.sum("segCount").alias("segCount"))
    )
    compacted2.limit(1).write.parquet(tmp)  # junk tmp (wrong content)
    run_step(
        spark, "line_freq", {"corpus": freq_p}, freq_p,
        params={"mode": "compact"},
    )
    got2 = {
        r["segHash"]: r["segCount"]
        for r in spark.read.parquet(freq_p).collect()
    }
    assert got2 == got  # compacted to one row per hash, counts intact
    assert not os.path.exists(tmp)

    # the scrub CONSUMER also self-heals an interrupted rename: plant
    # window (b) again and read through line_scrub's freq= path
    spark.read.parquet(freq_p).write.parquet(tmp)
    shutil.rmtree(freq_p)
    out = run_step(
        spark, "line_scrub", {"docs": docs_p}, None,
        params={
            "sep": " ", "max_count": 1, "min_segment_chars": 1,
            "freq": freq_p,
        },
        write=False,
    )
    assert out.count() == 20 and os.path.exists(freq_p)


def test_empty_ledger_reseeds_instead_of_undercertifying(spark, tmp_path):
    """A crashed ledger compaction (saveAsTable overwrite = drop +
    rewrite) can leave the counts ledger registered but EMPTY; the
    next append must NOT total touched buckets against that empty
    history (it would certify a too-low max and let a cross-append
    hot bucket slip past the ceiling) — it reseeds via the full
    recompute branch, exactly like a pre-sidecar index."""
    from genetics_spark_coloc_spark.session import write_bucketed

    shared = "the quick brown fox jumps over the lazy dog again and again"

    def batch(start_id):
        rows = [(start_id + i, shared) for i in range(3)]
        rows += [
            (
                start_id + 3 + i,
                " ".join(
                    f"w{start_id}x{i}t{j}v{(i * 7 + j * 13) % 97}"
                    for j in range(30)
                ),
            )
            for i in range(10)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    p0, p1 = str(tmp_path / "b0.parquet"), str(tmp_path / "b1.parquet")
    batch(0).write.parquet(p0)
    batch(100).write.parquet(p1)
    tbl = "band_index_empty_ledger"
    bp = {"num_perm": 16, "band_size": 4}
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")
    try:
        run_step(spark, "lsh_band_index", {"corpus": p0}, tbl,
                 params={"num_buckets": 4, **bp})
        # planted crash outcome: ledger exists but holds zero rows
        # (checkpoint severs the self-read before the overwrite)
        write_bucketed(
            spark.table(f"{tbl}_bucket_counts")
            .limit(0)
            .localCheckpoint(eager=True),
            f"{tbl}_bucket_counts",
            ["bandIdx", "bandHash"],
            num_buckets=16,
        )
        run_step(spark, "lsh_band_index", {"corpus": p1}, tbl,
                 params={"mode": "append", **bp})
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        certified = int(props["genetics_spark_coloc.max_bucket_count"])
        direct = (
            spark.table(tbl)
            .groupBy("bandIdx", "bandHash")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert certified == direct == 6, (
            f"empty ledger under-certified: {certified} vs true {direct}"
        )
        # and the reseed left the ledger consistent again
        ledger_max = (
            spark.table(f"{tbl}_bucket_counts")
            .groupBy("bandIdx", "bandHash")
            .agg(F.sum("c").alias("t"))
            .agg(F.max("t"))
            .collect()[0][0]
        )
        assert int(ledger_max) == 6
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_bucket_counts")


def test_cli_catalog_scoped_to_catalog_steps(tmp_path):
    """A non-catalog CLI step (``__main__.py``) must not open
    the Derby metastore — no metastore_db/ or derby.log side effects
    in cwd, so concurrent non-catalog runs cannot collide on Derby's
    single-process lock. (Catalog steps — lsh_band_index,
    bucket_layout, lsh_pairs with index= — still opt in via
    StepSpec.needs_catalog; the README quickstart test covers them.)"""
    corpus = f"{SF}/documents.parquet"
    r = subprocess.run(
        [
            sys.executable, "-m", "genetics_spark_coloc_spark", "run",
            "corpus_overlap",
            "--in", f"left={corpus}", "--in", f"right={corpus}",
            "--out", str(tmp_path / "overlap.parquet"),
            "--param", "k=32",
            "--master", "local[2]", "--shuffle-partitions", "2",
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    leftovers = {
        n for n in os.listdir(tmp_path)
        if n in ("metastore_db", "derby.log")
    }
    assert not leftovers, f"non-catalog step leaked {leftovers} into cwd"
