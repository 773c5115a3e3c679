"""Effect-size harmonisation (reference: src/gentropy/common/utils.py:22-120).

All pure Column expressions — stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ci_to_standard_error(ci_lower: Column, ci_upper: Column, is_odds_ratio: Column | None = None) -> Column:
    """SE from a 95% confidence interval: (upper - lower) / 3.92.

    For odds-ratio CIs, log-transform the bounds first
    (reference: utils.py:22-78).
    """
    if is_odds_ratio is None:
        lower, upper = ci_lower, ci_upper
    else:
        lower = F.when(is_odds_ratio, F.log(ci_lower)).otherwise(ci_lower)
        upper = F.when(is_odds_ratio, F.log(ci_upper)).otherwise(ci_upper)
    return (upper - lower) / F.lit(3.92)
