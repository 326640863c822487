"""Streaming form of the parse -> enrich -> route -> aggregate pipeline.

The batch pipeline (pipeline.build_pipeline) is a pure logical-plan
builder, so both queries call it on the readStream source and take its
``routed`` plan: this module only supplies the streaming source, sink
wiring and checkpointing.

Reference mapping:
- in_tail checkpointed offsets (plugins/in_tail/tail_sql.h:30-44)
    -> checkpointLocation: the stream's file-source log survives a
       kill; restart resumes exactly where it stopped.
- engine Flush interval (src/flb_engine.c:160)
    -> trigger (processingTime / availableNow micro-batches).
- routing + per-sink delivery
    -> foreachBatch writing one partitioned parquet dir per batch
       (partitionBy(sink)), idempotent per batch_id.
- out_flowcounter / stream processor windows (flb_sp window timers)
    -> per-micro-batch window aggregates: each batch writes its own
       ``rollup`` partial under ``aggregates/batch_id=<n>/`` and
       readers sum the partials with ``pipeline.total_aggregates``.
       Counts and sums are additive, so there is no state store, no
       watermark and no late row is dropped; the reference has no
       late-data handling either (processing-time only, SURVEY §2.6).

Scale: both queries are stateless, so executors scale linearly with
input partitions. Each query projects ``routed`` down to the columns
it writes BEFORE ``writeStream``: the foreachBatch frame is a plan that
has already run, so nothing done inside the callback prunes the scan.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fluent_bit_spark.pipeline import ROLLUP_INPUTS, build_pipeline, rollup
from fluent_bit_spark.router import RewriteTagRule, Route

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(
    spark: SparkSession, bounded_memory_mb: int | None = None
) -> None:
    """Switch stateful streaming operators to the RocksDB state store
    (spark.sql.streaming.stateStore.providerClass).

    Why this is the 100x default: the built-in HDFSBackedStateStore
    keeps EVERY key of every active state-store partition as JVM
    objects on the executor heap. For the watermarked dedup that is
    one ~50-byte entry (16-byte digest key + timestamp + store
    overhead) per distinct document inside the watermark horizon —
    at 10^9 in-horizon keys that is ~50 GB of heap spread over the
    shuffle partitions, all GC-scanned. RocksDB keeps the working set
    in native memory + local SST files and only pins the block cache,
    so state capacity scales with executor DISK, not heap:
    10^9 keys ≈ 50 GB of SSTs, a rounding error on local SSDs, with
    `bounded_memory_mb` capping the off-heap block cache + memtables
    (spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage).

    Takes effect for queries STARTED after this call (the provider is
    pinned into each query's checkpoint at start). Changed-file-count
    per micro-batch is unchanged — only the state backend moves.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    if bounded_memory_mb is not None:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true"
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
            str(bounded_memory_mb),
        )


def read_pages_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over the ingest table directory
    (new parquet files are discovered per micro-batch — the in_tail
    'follow the directory' analog)."""
    reader = spark.readStream.schema(PAGES_SCHEMA).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def start_routed_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    routes: list[Route] | None = None,
    rewrites: list[RewriteTagRule] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Routed delivery: each micro-batch writes its rows to
    ``sinks/batch_id=<n>/sink=<s>/``."""
    routed = build_pipeline(
        read_pages_stream(spark, source_dir), routes=routes, rewrites=rewrites
    ).routed.drop("html")
    return _start_per_batch(
        routed, lambda batch: batch, os.path.join(out_dir, "sinks"), ["sink"],
        os.path.join(checkpoint_dir, "routed"), available_now,
    )


def start_aggregate_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 minute",
    routes: list[Route] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Windowed per-sink aggregates (out_flowcounter shape): each
    micro-batch writes its ``rollup`` partial to
    ``aggregates/batch_id=<n>/``; ``pipeline.total_aggregates`` sums
    them."""
    routed = build_pipeline(
        read_pages_stream(spark, source_dir), routes=routes
    ).routed.select(*ROLLUP_INPUTS)
    return _start_per_batch(
        routed, lambda batch: rollup(batch, window_duration),
        os.path.join(out_dir, "aggregates"), [],
        os.path.join(checkpoint_dir, "aggregates"), available_now,
    )


def _start_per_batch(
    stream: DataFrame,
    output_of: Callable[[DataFrame], DataFrame],
    path: str,
    partition_cols: list[str],
    checkpoint: str,
    available_now: bool,
) -> StreamingQuery:
    """Start a foreachBatch query whose batch ``n`` writes
    ``output_of(batch)`` under ``path/batch_id=<n>/`` with dynamic
    partition overwrite: a batch replayed after a kill overwrites only
    its own partition, so a retry is idempotent."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            output_of(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id", *partition_cols)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_agg_available_now(
    spark: SparkSession,
    source_path: str,
    schema: str,
    ts_col: str,
    group_cols: list[str],
    agg_exprs: list,
    window_duration: str = "1 minute",
    watermark_delay: str = "0 seconds",
    timeout_sec: int = 300,
) -> DataFrame:
    """Run a tumbling-window streaming aggregate to completion and
    return the finalized windows as a batch DataFrame.

    This is the deterministic harness for verifying the streaming path
    against a batch oracle: availableNow drains the source, the
    watermark finalizes every window whose end <= max(event time) -
    delay, and the append-mode memory sink holds exactly those rows.
    Windows still open when the input ends are (correctly) withheld —
    a batch oracle must exclude them the same way.
    """
    import uuid

    src = spark.readStream.schema(schema).parquet(source_path)
    aggs = (
        src.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *group_cols)
        .agg(*agg_exprs)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )
    name = "wagg_" + uuid.uuid4().hex[:12]
    q = (
        aggs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q, timeout_sec)
    return spark.table(name)


def run_stream_to_completion(query: StreamingQuery, timeout_sec: int = 300) -> None:
    """Await an availableNow-triggered query (drains current input)."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError("streaming query did not drain in time")
