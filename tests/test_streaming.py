"""Streaming pipeline tests: routed delivery and summed aggregate
partials equal batch, checkpoint resume (only new files processed after
restart), a replayed batch overwrites only its own partition, and both
queries scan only the columns they write."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.datagen import generate_pages
from fluent_bit_spark.pipeline import build_pipeline, total_aggregates
from fluent_bit_spark.streaming.job import (
    run_stream_to_completion,
    start_aggregate_stream,
    start_routed_stream,
)


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    return str(src), str(out), str(ckpt)


def _write_pages(spark, n, src, sub):
    generate_pages(spark, n, partitions=2).write.mode("overwrite").parquet(
        os.path.join(src, sub)
    )


def test_streaming_matches_batch_counts(spark, dirs):
    src, out, ckpt = dirs
    _write_pages(spark, 500, src, "f1")

    q = start_routed_stream(spark, src, out, ckpt)
    run_stream_to_completion(q)

    streamed = spark.read.parquet(os.path.join(out, "sinks"))
    got = {
        r["sink"]: r["cnt"]
        for r in streamed.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    batch = build_pipeline(spark.read.parquet(os.path.join(src, "f1"))).routed
    want = {
        r["sink"]: r["cnt"]
        for r in batch.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want


def test_streaming_checkpoint_resume_processes_only_new(spark, dirs):
    src, out, ckpt = dirs
    _write_pages(spark, 300, src, "f1")
    q = start_routed_stream(spark, src, out, ckpt)
    run_stream_to_completion(q)
    n1 = spark.read.parquet(os.path.join(out, "sinks")).count()

    # restart with one new file: the checkpoint must skip f1
    _write_pages(spark, 200, src, "f2")
    q2 = start_routed_stream(spark, src, out, ckpt)
    run_stream_to_completion(q2)
    all_rows = spark.read.parquet(os.path.join(out, "sinks"))
    n2 = all_rows.count()
    assert n2 > n1
    # batch ids distinct => second run wrote a NEW batch, not a rewrite
    assert all_rows.select("batch_id").distinct().count() == 2
    # total equals batch pipeline over both files
    want = build_pipeline(spark.read.parquet(src + "/*")).routed.count()
    assert n2 == want


def _drain_aggregates(spark, src, out, ckpt):
    q = start_aggregate_stream(spark, src, out, ckpt)
    run_stream_to_completion(q)
    return q


def _totals(df):
    return {
        (r["sink"], r["window_start"]): (r["records"], r["bytes"], r["parse_failures"])
        for r in df.collect()
    }


def _two_file_drains(spark, src, out, ckpt):
    """400 pages as two files, each drained by its own availableNow run,
    so ``aggregates`` holds two partials (batch 0 and batch 1)."""
    for sub in ("f1", "f2"):
        generate_pages(spark, 200, partitions=1).write.mode("overwrite").parquet(
            os.path.join(src, sub)
        )
        _drain_aggregates(spark, src, out, ckpt)


def test_streaming_windowed_aggregates(spark, dirs):
    src, out, ckpt = dirs
    _two_file_drains(spark, src, out, ckpt)
    partials = spark.read.parquet(os.path.join(out, "aggregates"))
    assert set(partials.columns) == {
        "sink", "window_start", "records", "bytes", "parse_failures", "batch_id"
    }
    assert {r["batch_id"] for r in partials.select("batch_id").distinct().collect()} == {0, 1}
    # every window, the last open one included: no watermark withholds it
    want = _totals(build_pipeline(spark.read.parquet(src + "/*")).aggregates)
    assert want
    assert _totals(total_aggregates(partials)) == want


def test_streaming_aggregate_replay_overwrites_its_batch(spark, dirs):
    src, out, ckpt = dirs
    _two_file_drains(spark, src, out, ckpt)
    agg_dir = os.path.join(out, "aggregates")
    before = _totals(total_aggregates(spark.read.parquet(agg_dir)))

    # a kill between the batch's write and its commit: the restarted
    # query runs the newest batch again, under the same id
    commits = os.path.join(ckpt, "aggregates", "commits")
    newest = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(newest), f".{newest}.crc"):
        os.remove(os.path.join(commits, name))
    q = _drain_aggregates(spark, src, out, ckpt)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [newest]

    partials = spark.read.parquet(agg_dir)
    assert _totals(total_aggregates(partials)) == before
    parts = sorted(n for n in os.listdir(agg_dir) if n.startswith("batch_id="))
    assert parts == ["batch_id=0", "batch_id=1"]


@pytest.mark.parametrize("start", [start_routed_stream, start_aggregate_stream])
def test_streaming_scans_only_written_columns(spark, dirs, start):
    src, out, ckpt = dirs
    _write_pages(spark, 100, src, "f1")
    q = start(spark, src, out, ckpt)
    run_stream_to_completion(q)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    read_schemas = [
        line.split("ReadSchema: ", 1)[1] for line in plan.splitlines()
        if "FileScan" in line and "ReadSchema: " in line
    ]
    assert read_schemas
    assert all("html" not in rs for rs in read_schemas), read_schemas


def test_streaming_multiline_state_across_batches(spark, dirs):
    """Stateful streaming multiline (flb_ml pending buffer): a
    stacktrace split across two micro-batches joins into ONE record —
    the pending buffer carries over in the state store; record ids
    keep incrementing across batches."""
    import pandas as pd

    from fluent_bit_spark.streaming.multiline import streaming_multiline

    src, out, ckpt = dirs
    schema = "file string, seq long, line string"

    def write_batch(sub, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, sub))

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        joined = streaming_multiline(
            stream, ["file"], "seq", "line", "java", flush_timeout_ms=None
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    # batch 1: a complete record + the START of a stacktrace (pending)
    write_batch("b1", [
        ("a", 1, "plain line one"),
        ("a", 2, "Exception in thread main java.lang.RuntimeException: x"),
        ("a", 3, "     at com.example.A.run(A.java:1)"),
    ])
    drain()
    got1 = spark.read.parquet(out)
    # only the closed record is emitted; the stacktrace stays pending
    assert got1.count() == 1
    assert got1.first()["record"] == "plain line one"

    # batch 2: continuation of the SAME stacktrace + a closing line
    write_batch("b2", [
        ("a", 4, "     at com.example.B.run(B.java:2)"),
        ("a", 5, "plain line two"),
    ])
    drain()
    recs = {r["record_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(recs) == 3
    # the cross-batch stacktrace is ONE record with 3 lines
    stack = recs[1]
    assert stack["n_lines"] == 3 and stack["first_seq"] == 2
    assert stack["record"].count("\n") == 2
    assert recs[2]["record"] == "plain line two"


def test_streaming_multiline_timeout_flush_three_batches(spark, dirs):
    """flush_ms parity over a LIVE trigger: three micro-batches, with
    the pending stacktrace flushed MID-STREAM by the processing-time
    timeout (flb_ml.c flush interval), not by a closing line. Record
    ids keep incrementing across all batches."""
    import time

    from fluent_bit_spark.streaming.multiline import streaming_multiline

    src, out, ckpt = dirs
    schema = "file string, seq long, line string"

    def write_batch(sub, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, sub))

    # seed so the stream has a file at start
    write_batch("b1", [
        ("a", 1, "plain one"),
        ("a", 2, "Exception in thread main java.lang.RuntimeException: x"),
        ("a", 3, "     at com.example.A.run(A.java:1)"),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    joined = streaming_multiline(
        stream, ["file"], "seq", "line", "java", flush_timeout_ms=700
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )

    def poll(pred, timeout=60.0):
        t0 = time.time()
        while time.time() - t0 < timeout:
            try:
                rows = {r["record_id"]: r for r in spark.read.parquet(out).collect()}
            except Exception:
                rows = {}
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"condition not reached; last={rows}")

    try:
        # batch 1 emits the closed record; then the TIMEOUT (no new
        # data) flushes the 2-line pending stacktrace mid-stream
        rows = poll(lambda r: len(r) >= 2)
        assert rows[0]["record"] == "plain one"
        assert rows[1]["n_lines"] == 2 and rows[1]["first_seq"] == 2

        # batch 2: a NEW stacktrace start — stays pending, then the
        # timeout flushes it too (again no closing line arrives)
        write_batch("b2", [
            ("a", 4, "Exception in thread main java.lang.RuntimeException: y"),
        ])
        rows = poll(lambda r: len(r) >= 3)
        assert rows[2]["n_lines"] == 1 and rows[2]["first_seq"] == 4
        assert rows[2]["record"].startswith("Exception")

        # batch 3: plain line closes immediately (id continues: 3)
        write_batch("b3", [("a", 5, "plain two")])
        rows = poll(lambda r: len(r) >= 4)
        assert rows[3]["record"] == "plain two"
    finally:
        q.stop()


def test_streaming_partial_message_across_batches(spark, dirs):
    """Stateful streaming partial_message concat (filter_multiline
    ml.c:600-733): fragments of the same partial_id split across two
    micro-batches concatenate into ONE record; the packer state
    carries over; a never-completed packer survives in the state store
    (NoTimeout drain, the in_tail restart analog)."""
    from fluent_bit_spark.streaming.multiline import streaming_partial_message

    src, out, ckpt = dirs
    schema = ("tag string, seq long, log string, partial_id string, "
              "partial_last string")

    def write_batch(sub, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, sub))

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        joined = streaming_partial_message(
            stream, ["tag"], "seq", "log", flush_timeout_ms=None
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    # batch 1: id 1 opens; id 2 opens AND completes
    write_batch("b1", [
        ("t", 1, "one..", "1", "false"),
        ("t", 2, "x", "2", "false"),
        ("t", 3, "y", "2", "true"),
    ])
    drain()
    got1 = {r.partial_id: r for r in spark.read.parquet(out).collect()}
    assert list(got1) == ["2"] and got1["2"].log == "xy"
    assert got1["2"].complete == "true" and got1["2"].first_seq == 2

    # batch 2: id 1 completes across the batch boundary; id 1 REUSED
    # afterwards opens a fresh packer (destroyed-on-emit)
    write_batch("b2", [
        ("t", 4, "two..", "1", "true"),
        ("t", 5, "fresh", "1", "false"),
    ])
    drain()
    rows = spark.read.parquet(out).collect()
    done = [r for r in rows if r.partial_id == "1" and r.complete == "true"]
    assert len(done) == 1
    assert done[0].log == "one..two.." and done[0].first_seq == 1
    # 'fresh' is still pending — not emitted
    assert all(r.log != "fresh" for r in rows)
