"""Higher-order array functions — the engine's distinctive layer.

Credible-set math lives inside ``array<struct>`` columns; these
helpers keep all of it JVM-side (whole-stage codegen) instead of the
reference's row-at-a-time Python UDFs.

Reference anchors: logsumexp UDF (src/gentropy/common/utils.py:258-276),
softmax posteriors (method/colocalisation.py:221-238), array-struct
sorts (common/spark_helpers.py:354-448), credible-set cumulative sum
(dataset/study_locus.py:939-967), harmonic sum
(common/spark_helpers.py:853-888).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _running_logsumexp_stats(arr: Column) -> Column:
    """Single-pass (max, Σ exp(x−max)) struct fold.

    A naive two-pass spelling (``mx = array_max(arr)`` captured in the
    fold lambda) re-evaluates ``array_max`` — an O(n) scan — on EVERY
    element, making the whole fold O(n²): invisible on 40-tag coloc
    arrays, a 100× slowdown on 10k-element loci. The running fold
    keeps the max in the accumulator and rescales the partial sum
    when it grows, so one O(n) pass total.
    """
    acc0 = F.struct(
        F.lit(float("-inf")).alias("m"), F.lit(0.0).alias("s")
    )

    def merge(acc: Column, x: Column) -> Column:
        new_m = F.greatest(acc["m"], x)
        return F.struct(
            new_m.alias("m"),
            (acc["s"] * F.exp(acc["m"] - new_m) + F.exp(x - new_m)).alias("s"),
        )

    return F.aggregate(arr, acc0, merge)


def logsumexp(arr: Column) -> Column:
    """log(Σ exp(xᵢ)) computed stably: max + log(Σ exp(xᵢ - max)).

    Pure-Spark replacement for the reference's ``get_logsum`` Python
    UDF (common/utils.py:258-276). Single O(n) pass — see
    :func:`_running_logsumexp_stats`. Null for empty arrays (matching
    ``array_max``'s null on empty input in the two-pass form).
    """
    stats = _running_logsumexp_stats(arr)
    return F.when(F.size(arr) > 0, stats["m"] + F.log(stats["s"]))


def softmax(arr: Column) -> Column:
    """Softmax over an array<double>, stably (subtract max).

    Replaces the reference's ``_get_posteriors`` vector UDF
    (method/colocalisation.py:221-238). The (max, Σexp) stats are
    folded once and broadcast per element through ``array_repeat``
    (whose argument is evaluated once per row) — a lambda that
    captured them directly would re-evaluate the O(n) fold per
    element, O(n²) total.
    """
    stats = _running_logsumexp_stats(arr)
    packed = F.arrays_zip(
        arr.alias("x"), F.array_repeat(stats, F.size(arr)).alias("st")
    )
    return F.transform(
        packed, lambda p: F.exp(p["x"] - p["st"]["m"]) / p["st"]["s"]
    )


def array_sum(arr: Column) -> Column:
    """Σ over array<double> via fold (reference uses the same idiom for
    PIP sums, dataset/study_locus.py:455-461)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def order_array_of_structs_by_field(arr: Column, field: str) -> Column:
    """Sort array<struct> by one numeric field DESC, nulls last
    (reference: common/spark_helpers.py:354-409)."""
    return F.array_sort(
        arr,
        lambda l, r: (
            F.when(l[field].isNull() & r[field].isNull(), 0)
            .when(l[field].isNull(), 1)
            .when(r[field].isNull(), -1)
            .when(l[field] > r[field], -1)
            .when(l[field] < r[field], 1)
            .otherwise(0)
        ).cast("integer"),
    )


def cumulative_sum_flags(
    sorted_values: Column, threshold: float
) -> Column:
    """For a DESC-sorted array<double>, flag elements belonging to the
    minimal prefix whose sum exceeds ``threshold``.

    Element i is IN the credible set iff the sum of elements BEFORE it
    (exclusive prefix) is still < threshold — the reference's
    ``index - 1`` slice trick (dataset/study_locus.py:939-967),
    re-expressed with zip_with over an exclusive running sum.

    Returns array<boolean> aligned with the input.
    """
    n = F.size(sorted_values)
    # exclusive prefix sums: prefix[i] = sum(values[0..i-1])
    prefix = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(sorted_values, F.lit(1), i - 1),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.transform(prefix, lambda p: p < F.lit(threshold))


def harmonic_sum(sorted_values: Column, scale: float = 1.0) -> Column:
    """Harmonic sum Σ valueᵢ / (i^2 * scale) over a DESC-sorted array
    (reference: common/spark_helpers.py:853-888)."""
    n = F.size(sorted_values)
    return F.aggregate(
        F.zip_with(
            sorted_values,
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda v, i: v / (i.cast("double") * i.cast("double") * F.lit(scale)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
