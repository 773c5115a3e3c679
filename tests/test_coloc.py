"""Golden-value tests for COLOC / eCAVIAR.

Expected h0-h4 values are the reference's published expectations
(matched there against the R COLOC implementation):
/root/reference/tests/gentropy/method/test_colocalisation_method.py:28-262.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from genetics_spark_coloc_spark.operators.coloc import coloc, ecaviar

OVERLAP_SCHEMA = StructType(
    [
        StructField("leftStudyLocusId", StringType(), False),
        StructField("rightStudyLocusId", StringType(), False),
        StructField("rightStudyType", StringType(), False),
        StructField("chromosome", StringType(), False),
        StructField("tagVariantId", StringType(), False),
        StructField(
            "statistics",
            StructType(
                [
                    StructField("left_logBF", DoubleType(), True),
                    StructField("right_logBF", DoubleType(), True),
                    StructField("left_beta", DoubleType(), True),
                    StructField("right_beta", DoubleType(), True),
                    StructField("left_posteriorProbability", DoubleType(), True),
                    StructField("right_posteriorProbability", DoubleType(), True),
                ]
            ),
        ),
    ]
)


def _row(tag, l_bf, r_bf, l_beta, r_beta, l_pp, r_pp):
    return {
        "leftStudyLocusId": "1",
        "rightStudyLocusId": "2",
        "rightStudyType": "eqtl",
        "chromosome": "1",
        "tagVariantId": tag,
        "statistics": {
            "left_logBF": l_bf,
            "right_logBF": r_bf,
            "left_beta": l_beta,
            "right_beta": r_beta,
            "left_posteriorProbability": l_pp,
            "right_posteriorProbability": r_pp,
        },
    }


CASES = [
    (
        [_row("snp", 10.3, 10.5, 0.1, 0.2, 0.91, 0.92)],
        [
            {
                "h0": 9.254841951638903e-5,
                "h1": 2.7517068829182966e-4,
                "h2": 3.3609423764447284e-4,
                "h3": 9.254841952564387e-13,
                "h4": 0.9992961866536217,
            }
        ],
    ),
    (
        [
            _row("snp1", 1.2, 10.5, 0.001, 0.2, 0.001, 0.92),
            _row("snp2", 10.3, 3.8, 0.3, 0.005, 0.91, 0.01),
        ],
        [],
    ),
    (
        [
            _row("snp1", 10.2, 10.5, 0.5, 0.2, 0.91, 0.92),
            _row("snp2", 1.2, 3.8, 0.003, 0.005, 0.001, 0.01),
        ],
        [
            {
                "h0": 1.02277006860577e-4,
                "h1": 2.7519169183135977e-4,
                "h2": 3.718812819512325e-4,
                "h3": 1.3533048074295033e-6,
                "h4": 0.9992492967145488,
            }
        ],
    ),
    (
        [
            _row("snp1", 1.2, None, 0.003, None, 0.001, 0.01),
            _row("snp2", 1.2, 3.8, 0.003, 0.005, 0.001, 0.01),
            _row("snp3", 10.2, 10.5, 0.5, 0.2, 0.91, 0.92),
        ],
        [
            {
                "h0": 1.02277006860577e-4,
                "h1": 2.752255943423052e-4,
                "h2": 3.718914358059273e-4,
                "h3": 1.5042926116520848e-6,
                "h4": 0.9992491016906891,
            }
        ],
    ),
    (
        [
            _row("snp1", 1.2, None, 0.003, None, 0.001, 0.01),
            _row("snp2", 1.2, 3.8, 0.003, 0.005, 0.001, 0.01),
            _row("snp3", 10.2, 10.5, 0.5, 0.2, 0.36, 0.92),
        ],
        [],
    ),
]


@pytest.mark.parametrize("observed,expected", CASES)
def test_coloc_golden_values(spark, observed, expected):
    df = spark.createDataFrame(observed, schema=OVERLAP_SCHEMA)
    result = coloc(df).orderBy("leftStudyLocusId").collect()
    assert len(result) == len(expected)
    for row, exp in zip(result, expected):
        for h in ["h0", "h1", "h2", "h3", "h4"]:
            # rel=1e-5 is the reference's own effective gate: its golden
            # test uses pandas assert_frame_equal defaults (rtol=1e-5),
            # and one published h0 value is a copy-paste across cases.
            assert row[h] == pytest.approx(exp[h], rel=1e-5), f"{h} mismatch"


def test_ecaviar_clpp(spark):
    df = spark.createDataFrame(
        [
            _row("snp1", 10.3, 10.5, 0.1, 0.2, 0.5, 0.5),
            _row("snp2", 10.3, 10.5, 0.1, 0.2, 0.25, 0.75),
        ],
        schema=OVERLAP_SCHEMA,
    )
    result = ecaviar(df).collect()
    assert len(result) == 1
    row = result[0]
    assert row["clpp"] == pytest.approx(0.5 * 0.5 + 0.25 * 0.75)
    assert row["numberColocalisingVariants"] == 2
    assert row["colocalisationMethod"] == "eCAVIAR"
    assert row["betaRatioSignAverage"] == pytest.approx(1.0)


def test_beta_ratio_null_when_no_betas(spark):
    df = spark.createDataFrame(
        [_row("snp", 10.5, 10.3, None, None, 0.91, 0.92)], schema=OVERLAP_SCHEMA
    )
    result = coloc(df).collect()
    assert len(result) == 1
    assert result[0]["betaRatioSignAverage"] is None


def test_beta_ratio_mixed_signs(spark):
    # pair 1-2: one positive and one negative ratio average to 0; the
    # zero and null betas are skipped, not counted as sign 0. Pair 1-3
    # in the same frame averages only its own tag.
    df = spark.createDataFrame(
        [
            _row("snp1", 10.3, 10.5, 0.1, 0.2, 0.91, 0.92),
            _row("snp2", 10.3, 10.5, -0.1, 0.2, 0.91, 0.92),
            _row("snp3", 10.3, 10.5, 0.0, 0.2, 0.91, 0.92),
            _row("snp4", 10.3, 10.5, None, 0.2, 0.91, 0.92),
            {**_row("snp1", 10.3, 10.5, -0.3, 0.2, 0.91, 0.92), "rightStudyLocusId": "3"},
        ],
        schema=OVERLAP_SCHEMA,
    )
    for method in (ecaviar, coloc):
        got = {
            r["rightStudyLocusId"]: r["betaRatioSignAverage"]
            for r in method(df).collect()
        }
        assert got == pytest.approx({"2": 0.0, "3": -1.0}), method.__name__


def test_output_column_order(spark):
    df = spark.createDataFrame(
        [_row("snp", 10.5, 10.3, 0.1, 0.2, 0.91, 0.92)], schema=OVERLAP_SCHEMA
    )
    keys = ["leftStudyLocusId", "rightStudyLocusId", "chromosome", "rightStudyType"]
    tail = ["colocalisationMethod", "betaRatioSignAverage"]
    assert ecaviar(df).columns == keys + ["numberColocalisingVariants", "clpp"] + tail
    assert coloc(df).columns == (
        keys + ["numberColocalisingVariants", "h0", "h1", "h2", "h3", "h4"] + tail
    )
