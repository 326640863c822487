"""Cluster entry point: run a fluent-bit config on Spark.

    (cd /root/repo && zip -qr /tmp/fluent_bit_spark.zip fluent_bit_spark)
    spark-submit --py-files /tmp/fluent_bit_spark.zip \
        jobs/run_classic.py --conf /etc/fluent-bit/fluent-bit.conf \
        --out-dir /data/fb-out [--streaming --checkpoint <dir>]

The config is the reference's own format: classic ini (with @SET /
@INCLUDE / ${VAR} / [SERVICE] Parsers_File) or the yaml form —
anything load_classic_conf accepts. Batch mode delivers every
[OUTPUT] under --out-dir/<output id> and prints per-output counts as
one JSON line: the rows each output delivered (0 for an output
dropped after its Retry_Limit), the rows routed to a null/stdout
output, and for counter/flowcounter the rows of their aggregate
(counter reports 1), not the rows routed to them.

--streaming follows the tail inputs with checkpointed resume and runs
the same batch plan and delivery once per micro-batch, under
--out-dir/batch_id=<n>/<output id> ([SERVICE] Flush is the trigger
interval). An output dropped after its Retry_Limit loses that batch:
the checkpoint still moves past it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python jobs/run_classic.py` runs resolve the library from the
# repo root; under spark-submit --py-files the zip is already on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True, help="fluent-bit.conf / .yaml path")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", help="checkpoint dir (streaming)")
    ap.add_argument("--master", help="override master (default: from env)")
    args = ap.parse_args()
    if args.streaming and not args.checkpoint:
        ap.error("--streaming requires --checkpoint")

    from fluent_bit_spark.classic import (
        build_classic_pipeline,
        load_classic_conf,
        run_classic_outputs,
        start_classic_stream,
    )
    from fluent_bit_spark.session import get_spark

    spark = get_spark(app_name="fbs-classic", master=args.master)
    sections = load_classic_conf(args.conf)

    if args.streaming:
        q = start_classic_stream(
            spark, sections, args.out_dir, args.checkpoint, available_now=True
        )
        q.awaitTermination()
        print(json.dumps({"mode": "streaming", "out_dir": args.out_dir}))
        return

    pipe = build_classic_pipeline(spark, sections)
    counts = run_classic_outputs(pipe, args.out_dir)
    print(json.dumps({"mode": "batch", "counts": counts}))


if __name__ == "__main__":
    main()
