"""Row-level quality filters on summary statistics / loci.

Reference anchors: sanity filter (src/gentropy/dataset/
summary_statistics.py:143-172), genomic-region exclusion
(summary_statistics.py:117-141, common/genomic_region.py:6-103).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sanity_filter(sumstats: DataFrame) -> DataFrame:
    """Drop malformed sumstat rows: null/NaN/0 beta, SE ≤ 0 (when
    present), p-value pair invalid or p ≥ 1
    (reference: summary_statistics.py:143-172)."""
    df = sumstats.dropna(subset=["beta", "pValueMantissa", "pValueExponent", "position"])
    conditions = [
        ~F.isnan(F.col("beta")),
        F.col("beta") != 0,
        F.col("pValueMantissa") > 0,
        # p < 1 on the decomposed pair
        (F.col("pValueExponent") < 0)
        | ((F.col("pValueExponent") == 0) & (F.col("pValueMantissa") < 1)),
    ]
    if "standardError" in df.columns:
        conditions.append(F.col("standardError").isNull() | (F.col("standardError") > 0))
    cond = conditions[0]
    for c in conditions[1:]:
        cond = cond & c
    return df.filter(cond)


def in_region(chromosome: Column, position: Column, region_chrom: str, start: int, end: int) -> Column:
    """Genomic-range predicate (reference: genomic_region.py:6-103)."""
    return (chromosome == region_chrom) & (position >= start) & (position <= end)


def exclude_region(
    df: DataFrame, region_chrom: str, start: int, end: int
) -> DataFrame:
    """Drop rows inside a genomic region."""
    return df.filter(
        ~in_region(F.col("chromosome"), F.col("position"), region_chrom, start, end)
    )
