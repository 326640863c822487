"""processor_sampling: probabilistic sampling.

Reference: plugins/processor_sampling/sampling_probabilistic.c:45-137
(percentage keep).

Spark-first: deterministic per-row hash sampling instead of an RNG —
``pmod(xxhash64(cols), 100) < pct`` keeps results reproducible across
retries and cluster sizes (a Spark-native improvement over the
reference's rand(); at 10^12 rows task retries must not change the
sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_probabilistic(
    df: DataFrame,
    percentage: float,
    key_cols: list[str] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Keep ~percentage% of rows, deterministically by key hash."""
    if percentage >= 100:
        return df
    if percentage <= 0:
        return df.limit(0)
    cols = [F.col(c) for c in (key_cols or df.columns)]
    bucket = F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(10000))
    return df.filter(bucket < int(percentage * 100))
