"""Session windows: gap-based event grouping per key.

Completes the window family next to the stream processor's tumbling /
hopping forms (SURVEY §2.6): the reference has no session windows
(flb_sp_window.c supports WINDOW TUMBLING/HOPPING only), but every
log-analytics pipeline wants per-entity sessionization; Spark has it
native (``F.session_window``), so the batch and streaming forms share
one declaration.

Semantics (Spark's): a session extends while consecutive events per
key are separated by < gap; an event at exactly ``gap`` after the
previous one still MERGES into the session (windows that touch are
unioned); only a strictly larger gap starts a new session. Session
end = last event + gap.

Scale: one shuffle on the session key; per-key ordering happens
inside the aggregation operator (no global sort). Skewed keys behave
like any grouped aggregate (AQE skew handling applies). In streaming,
state per open session is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap: str = "5 minutes",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Group events into gap-based sessions per key and aggregate.

    Returns one row per (key..., session): session_start /
    session_end (event-time bounds of the window: first event ..
    last event + gap) plus ``n_events`` and any extra aggregates.
    """
    out = df.groupBy(
        *key_cols, F.session_window(F.col(ts_col), gap).alias("_w")
    ).agg(F.count(F.lit(1)).alias("n_events"), *(aggs or []))
    agg_cols = [c for c in out.columns if c not in (*key_cols, "_w")]
    return out.select(
        *key_cols,
        F.col("_w.start").alias("session_start"),
        F.col("_w.end").alias("session_end"),
        *agg_cols,
    )
