"""Reshaping helpers: melt, pivot, top-per-group.

Reference anchors: melt/pivot (src/gentropy/common/spark_helpers.py:
24-98,485-516), top-1-per-group (spark_helpers.py:160-212).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def melt(
    df: DataFrame,
    id_vars: list[str],
    value_vars: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide -> long via explode of literal/value struct pairs.

    One projection + one generator — no shuffle, fully codegen'd.
    """
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias(var_name), F.col(c).cast("double").alias(value_name)
                )
                for c in value_vars
            ]
        )
    ).alias("_kv")
    return df.select(*id_vars, pairs).select(
        *id_vars, F.col(f"_kv.{var_name}").alias(var_name), F.col(f"_kv.{value_name}").alias(value_name)
    )


def pivot_first(
    df: DataFrame,
    group_cols: list[str],
    pivot_col: str,
    value_col: str,
    pivot_values: list[str] | None = None,
) -> DataFrame:
    """Long -> wide. Passing ``pivot_values`` avoids the extra
    distinct-collect job Spark otherwise runs to discover them —
    required practice at 100 TB."""
    pivoted = df.groupBy(*group_cols).pivot(pivot_col, pivot_values)
    return pivoted.agg(F.first(value_col))


def get_record_with_maximum_value(
    df: DataFrame, grouping_cols: list[str], sorting_col: str | Column
) -> DataFrame:
    """Top-1 row per group by DESC sort column, deterministic
    tie-break on the grouping key ordering (reference:
    spark_helpers.py:160-212).

    Ranking window instead of self-join-with-max: one shuffle, and
    AQE handles group skew.
    """
    order = F.col(sorting_col).desc_nulls_last() if isinstance(sorting_col, str) else sorting_col.desc_nulls_last()
    w = Window.partitionBy(*grouping_cols).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def declared_single_partition(col: Column) -> Column:
    """A constant-zero partition key that SURVIVES constant folding,
    for windows whose single-partition execution is the intended
    semantics (a bounded ``limit(k)`` input, or an intrinsically
    sequential global prefix sum). ``partitionBy(lit(0))`` is folded
    to an empty partition spec by the optimizer, so WindowExec still
    warns 'No Partition Defined'; hashing a real column keeps the
    expression non-foldable while every row still lands in the one
    partition the operator requires. Cost: one xxhash64 per row —
    noise on the bounded inputs this is for.
    """
    return F.pmod(F.xxhash64(col), F.lit(1))


def bounded_single_partition_rank(
    key_col: Column,
    order_by: "list[Column]",
    bound: int,
    context: str,
) -> Column:
    """``row_number`` over a declared-single-partition window WITH a
    loud runtime size guard: consumers of
    ``declared_single_partition`` rely on a docstring contract that
    their input is bounded (a sketch pool of ≤2k rows, a top-N cut) —
    if that contract is ever violated, the window silently serializes
    an unbounded row set through one task. This wraps the rank in a
    CASE on a same-partition ``count(*)`` window (same partitioning →
    no extra exchange) that ``raise_error``s the standard loud-guard
    message when the partition exceeds ``bound``. Cost: one count
    window over rows that are ≤``bound`` by construction.
    """
    key = declared_single_partition(key_col)
    rn = F.row_number().over(Window.partitionBy(key).orderBy(*order_by))
    cnt = F.count(F.lit(1)).over(Window.partitionBy(key))
    msg = F.concat(
        F.lit(f"{context}: declared-single-partition window received "),
        cnt.cast("string"),
        F.lit(
            f" rows > documented bound {bound}; this operator serializes "
            "its window through ONE task by design and its input was "
            "declared bounded by construction — shrink the input "
            "(limit/k) or restructure the operator before scaling up"
        ),
    )
    return F.when(cnt > F.lit(int(bound)), F.raise_error(msg)).otherwise(rn)
