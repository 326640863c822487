"""Cluster entry point: the flagship pipeline via spark-submit.

    # package the library once
    (cd /root/repo && zip -qr /tmp/fluent_bit_spark.zip fluent_bit_spark)
    spark-submit --py-files /tmp/fluent_bit_spark.zip \
        jobs/run_pipeline.py \
        --input  <pages table path>   (parquet/iceberg dir) \
        --output <sink root> \
        [--format parquet|orc] [--streaming] [--checkpoint <dir>]
        [--synthetic-rows N]   (generate instead of reading --input)

Batch mode runs parse -> enrich -> rewrite -> fan-out -> aggregate,
reading the input once: it writes the routed rows to sinks/ (partitioned
by sink), rolls aggregates/ up from those files, and writes metrics/ as
one row per sink (records_out, parse_failures, bytes) observed from the
sink write; it prints the rows per sink (resumable variant:
pipeline.run_resumable). --streaming runs the Structured Streaming
form with checkpointed resume: each micro-batch <n> writes its routed
rows to sinks/batch_id=<n>/sink=<s>/ and its window-aggregate partial
to aggregates/batch_id=<n>/; pipeline.total_aggregates sums the
partials into the batch mode's aggregates. On a real cluster nothing
changes but --master/--num-executors on the spark-submit line — the
plan is cluster-size agnostic (partitioning via AQE + explicit
repartitions).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint")
    ap.add_argument("--synthetic-rows", type=int)
    ap.add_argument("--from-html", action="store_true",
                    help="derive text from the raw html bytes (north-rule shape)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fluent_bit_spark.datagen import generate_pages
    from fluent_bit_spark.pipeline import build_pipeline, run_to_sinks
    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.sources import read_pages

    # under spark-submit an active session already exists with the
    # submitted master/conf; get_spark's getOrCreate reuses it and our
    # SQL confs apply on top
    spark = (
        SparkSession.getActiveSession() or get_spark("fluent-bit-spark-pipeline")
    )

    if args.streaming:
        from fluent_bit_spark.streaming.job import (
            run_stream_to_completion,
            start_aggregate_stream,
            start_routed_stream,
        )

        ckpt = args.checkpoint or args.output + "/_checkpoints"
        q1 = start_routed_stream(spark, args.input, args.output, ckpt)
        q2 = start_aggregate_stream(spark, args.input, args.output, ckpt)
        run_stream_to_completion(q1, timeout_sec=24 * 3600)
        run_stream_to_completion(q2, timeout_sec=24 * 3600)
        return

    if args.synthetic_rows:
        pages = generate_pages(spark, args.synthetic_rows)
    else:
        pages = read_pages(spark, args.input)
    counts = run_to_sinks(build_pipeline(pages, from_html=args.from_html), args.output, fmt=args.format)
    print({"per_sink_counts": counts})


if __name__ == "__main__":
    main()
