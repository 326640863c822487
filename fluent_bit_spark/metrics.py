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
delivered rows this way, ``pipeline.run_to_sinks`` its per-sink
records, parse failures and bytes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from fluent_bit_spark.session import per_jvm


@per_jvm
def _counter_cols(parse_ok_col: str | None, bytes_col: str | None,
                  key_col: str | None, keys: list[str] | None) -> list[Column]:
    def counters(hit: Column) -> list[Column]:
        cols = [F.count(F.when(hit, 1)).alias("records")]
        if parse_ok_col:
            cols.append(F.coalesce(
                F.sum(F.when(hit, (~F.col(parse_ok_col)).cast("long"))), F.lit(0)
            ).alias("parse_failures"))
        if bytes_col:
            cols.append(F.coalesce(
                F.sum(F.when(hit, F.length(F.col(bytes_col)).cast("long"))), F.lit(0)
            ).alias("bytes"))
        return cols

    if key_col is None:
        return counters(F.lit(True))
    return [F.struct(*counters(F.col(key_col) == k)).alias(k) for k in keys or []]


def observe_stage(df: DataFrame, stage: str, parse_ok_col: str | None = None,
                  bytes_col: str | None = None, key_col: str | None = None,
                  keys: list[str] | None = None) -> tuple[DataFrame, Observation]:
    """Attach zero-cost observed metrics to a stage.

    The observation holds ``records`` (and ``parse_failures`` /
    ``bytes`` when their columns are given). With ``key_col``, it holds
    one struct of those counters per name in ``keys`` instead (the
    names are known at plan time, e.g. a pipeline's sinks), each
    counting only the rows whose ``key_col`` equals that name. The
    counter Columns are built once per JVM (``session.per_jvm``).
    """
    obs = Observation(stage)
    return df.observe(obs, *_counter_cols(parse_ok_col, bytes_col, key_col, keys)), obs
