"""Pipeline metrics — the analog of fluent-bit's internal
counters.

Reference: input records/bytes (src/flb_input_chunk.c:1663-1679),
filter in/add/drop counters (src/flb_filter.c:218-300), output
ok/error/retry (include/fluent-bit/flb_metrics.h:46-59), periodic
exporter (src/flb_metrics_exporter.c:38-140).

Spark design: metrics must not add actions (a .count() per stage would
re-run the 100 TB scan). ``observe()`` named aggregates ride along the
job that does the work and are read from its ``Observation`` once that
action finishes (``classic.run_classic_outputs`` counts each output's
delivered rows this way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_stage(df: DataFrame, stage: str, parse_ok_col: str | None = None,
                  bytes_col: str | None = None) -> tuple[DataFrame, Observation]:
    """Attach zero-cost observed metrics to a stage."""
    obs = Observation(stage)
    cols = [F.count(F.lit(1)).alias("records")]
    if parse_ok_col:
        cols.append(F.sum((~F.col(parse_ok_col)).cast("long")).alias("parse_failures"))
    if bytes_col:
        cols.append(F.sum(F.length(F.col(bytes_col)).cast("long")).alias("bytes"))
    return df.observe(obs, *cols), obs
