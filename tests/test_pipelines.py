"""End-to-end pipeline test: two synthetic sumstats sources through
clump → finemap → overlaps → coloc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators import coloc as coloc_ops
from genetics_spark_coloc_spark.operators.overlaps import find_overlaps
from genetics_spark_coloc_spark.pipelines import clump_and_finemap, coloc_pipeline

SCHEMA = (
    "studyId: string, variantId: string, chromosome: string, position: int, "
    "beta: double, standardError: double, pValueMantissa: float, pValueExponent: int"
)


def _sumstats(study, chrom, center, n, strongest_offset, exp):
    """A cluster of n variants around `center`; the one at
    strongest_offset is most significant."""
    rows = []
    for i in range(n):
        pos = center + i * 1000
        is_strong = i == strongest_offset
        rows.append(
            (
                study,
                f"{chrom}_{pos}_A_C",
                chrom,
                pos,
                0.5 if is_strong else 0.05,
                0.05,
                1.0,
                exp if is_strong else -9,
            )
        )
    return rows


def test_clump_and_finemap(spark):
    df = spark.createDataFrame(
        _sumstats("GS1", "1", 1_000_000, 8, 3, -20)
        + _sumstats("GS1", "1", 5_000_000, 5, 0, -15),
        SCHEMA,
    )
    loci = clump_and_finemap(df, distance=100_000, gwas_significance=1e-8)
    rows = loci.collect()
    assert len(rows) == 2  # two independent loci
    for r in rows:
        tags = r["locus"]
        assert len(tags) >= 5
        total_pp = sum(t["posteriorProbability"] for t in tags)
        assert total_pp == pytest.approx(1.0, abs=1e-9)
        # the most significant variant (largest |beta|/se) dominates
        best = max(tags, key=lambda t: t["posteriorProbability"])
        assert best["posteriorProbability"] > 0.9
        assert any(t["is95CredibleSet"] for t in tags)


def test_clump_and_finemap_analysed_schema_equals_optimised(spark):
    """``coloc_pipeline`` checkpoints this output; Spark keeps the
    checkpoint leaf's size estimate (and logs no ``LogicalRDD``
    warning) only when the analysed and optimised schemas match,
    nullability included."""
    df = spark.createDataFrame(
        _sumstats("GWAS1", "1", 1_000_000, 8, 3, -20), SCHEMA
    )
    qe = clump_and_finemap(df, distance=100_000)._jdf.queryExecution()
    assert qe.analyzed().schema().json() == qe.optimizedPlan().schema().json()


def test_coloc_pipeline_end_to_end(spark):
    # GWAS and QTL share the locus at 1 Mb on chr1 (same variant grid)
    gwas = spark.createDataFrame(
        _sumstats("GWAS1", "1", 1_000_000, 8, 3, -20), SCHEMA
    )
    qtl = spark.createDataFrame(
        _sumstats("QTL1", "1", 1_000_000, 8, 3, -12), SCHEMA
    )
    result = coloc_pipeline(gwas, qtl, distance=100_000)
    # eCAVIAR's columns, then COLOC's h0-h4 (null on eCAVIAR rows)
    assert result.columns == [
        "leftStudyLocusId",
        "rightStudyLocusId",
        "chromosome",
        "rightStudyType",
        "numberColocalisingVariants",
        "clpp",
        "colocalisationMethod",
        "betaRatioSignAverage",
        "h0",
        "h1",
        "h2",
        "h3",
        "h4",
    ]
    rows = result.collect()
    methods = {r["colocalisationMethod"] for r in rows}
    assert "eCAVIAR" in methods
    ecav = [r for r in rows if r["colocalisationMethod"] == "eCAVIAR"][0]
    # same causal variant on both sides -> high CLPP
    assert ecav["clpp"] > 0.8
    assert ecav["numberColocalisingVariants"] == 8
    coloc_rows = [r for r in rows if r["colocalisationMethod"] == "COLOC"]
    if coloc_rows:  # COLOC surviving its overlap-size filter
        assert coloc_rows[0]["h4"] > 0.5


def _per_source_composition(gwas, qtl, distance):
    """coloc_pipeline spelled out one source at a time."""
    study_locus = clump_and_finemap(gwas, distance, 1e-8, "gwas").unionByName(
        clump_and_finemap(qtl, distance, 1e-5, "eqtl")
    )
    overlaps = find_overlaps(study_locus)
    return coloc_ops.ecaviar(overlaps).unionByName(
        coloc_ops.coloc(overlaps), allowMissingColumns=True
    )


# (gwas rows, qtl rows): the end-to-end fixture above, and one where
# both sources carry study "S1" with leads 2-3 kb apart, so merging the
# two studies would clump one lead away and pool their locus tags
COMPOSITION_FIXTURES = {
    "distinct_study_ids": (
        _sumstats("GWAS1", "1", 1_000_000, 8, 3, -20),
        _sumstats("QTL1", "1", 1_000_000, 8, 3, -12),
    ),
    "shared_study_id": (
        _sumstats("S1", "1", 1_000_000, 8, 3, -20)
        + _sumstats("S1", "2", 2_000_000, 6, 1, -14),
        _sumstats("S1", "1", 1_000_000, 8, 5, -12)
        + _sumstats("S1", "2", 2_000_000, 6, 4, -11),
    ),
}


@pytest.mark.parametrize("fixture", sorted(COMPOSITION_FIXTURES))
def test_coloc_pipeline_equals_per_source_composition(spark, fixture):
    gwas_rows, qtl_rows = COMPOSITION_FIXTURES[fixture]
    gwas = spark.createDataFrame(gwas_rows, SCHEMA)
    qtl = spark.createDataFrame(qtl_rows, SCHEMA)
    got = coloc_pipeline(gwas, qtl, distance=100_000)
    want = _per_source_composition(gwas, qtl, distance=100_000)
    assert got.columns == want.columns
    got_rows = sorted(got.collect(), key=repr)
    want_rows = sorted(want.collect(), key=repr)
    assert len(got_rows) >= 2
    assert got_rows == want_rows
