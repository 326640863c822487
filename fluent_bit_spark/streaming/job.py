"""Streaming form of the parse -> enrich -> route -> aggregate pipeline.

The batch pipeline (pipeline.build_pipeline) is a pure logical-plan
builder, so both queries call it on the readStream source and take its
``routed`` plan: this module only supplies the streaming source, sink
wiring, watermarking, and checkpointing.

Reference mapping:
- in_tail checkpointed offsets (plugins/in_tail/tail_sql.h:30-44)
    -> checkpointLocation: the stream's file-source log + state store
       survive a kill; restart resumes exactly where it stopped.
- engine Flush interval (src/flb_engine.c:160)
    -> trigger (processingTime / availableNow micro-batches).
- routing + per-sink delivery
    -> foreachBatch writing one partitioned parquet dir per batch
       (partitionBy(sink)), idempotent per batch_id.
- stream processor windows (flb_sp window timers)
    -> event-time window aggregates with a watermark; the reference
       has NO late-data handling (processing-time only, SURVEY §2.6),
       the watermark is the Spark-native upgrade.

Scale: the stateful aggregate keys on (sink, window) — small state;
the routed fan-out itself is stateless, so executors scale linearly
with input partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fluent_bit_spark.pipeline import build_pipeline, rollup
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
    """Routed delivery: one partitioned parquet write per micro-batch
    via foreachBatch (idempotent on retry thanks to batch_id dirs)."""
    routed = build_pipeline(
        read_pages_stream(spark, source_dir), routes=routes, rewrites=rewrites
    ).routed

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.drop("html")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id", "sink")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(os.path.join(out_dir, "sinks"))
        )

    writer = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "routed"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_aggregate_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "5 minutes",
    routes: list[Route] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Windowed per-sink aggregates (out_flowcounter shape) with an
    event-time watermark; append-mode parquet of finalized windows."""
    routed = build_pipeline(read_pages_stream(spark, source_dir), routes=routes).routed
    aggs = rollup(routed.withWatermark("warc_ts", watermark_delay), window_duration)
    writer = (
        aggs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "aggregates"))
        .option("checkpointLocation", os.path.join(checkpoint_dir, "aggregates"))
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
