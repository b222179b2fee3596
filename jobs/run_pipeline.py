"""spark-submit entry point for the CEF pipeline.

Usage (local example):

    python jobs/package.py                           # builds dist/cefspark.zip
    spark-submit --master local[32] \
        --py-files dist/cefspark.zip \
        jobs/run_pipeline.py \
        --input /data/transcripts --sinks /data/sinks --table /data/counts \
        --salt 8 --now 2026-08-16T00:00:00Z

Reads the transcript table (or raw log files, or synthesizes --synthesize N
turns) and hands it to ``pipeline.run_pipeline``: decode -> enrich -> route
-> salted sink writes -> windowed counts. With --table the counts are
committed as a snapshot of a manifest table, and re-runs skip the input
files an earlier commit consumed (checkpoint/resume). Prints the run's
``PipelineResult`` as one JSON line: n_input, n_failed, n_sinks,
top_sinks, wall_seconds, lineage_rows (one per input file x sink; --input
only) and snapshot_id (--table only).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcript parquet path (conv_id,turn_idx,role,text,tool,ts)")
    p.add_argument("--input-format", choices=["table", "raw"], default="table",
                   help="'raw' = delimiter-framed log files (text only)")
    p.add_argument("--delimiter", default="\\n", help="frame delimiter for --input-format raw")
    p.add_argument("--synthesize", type=int, default=0, help="generate N synthetic turns instead")
    p.add_argument("--sinks", help="base path for per-sink routed output")
    p.add_argument("--table", help="manifest-table root for snapshot commit/resume")
    p.add_argument("--salt", type=int, default=8)
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument("--ecs", action="store_true")
    p.add_argument("--now", help="injected clock for yearless timestamps (ISO8601)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from cefspark import fixtures, pipeline
    from cefspark.parser import DecodeConfig
    from cefspark.session import get_spark
    from cefspark.storage import ManifestTable

    spark = SparkSession.getActiveSession() or get_spark(
        app_name="cefspark-pipeline", cores=args.cpus or None)

    if args.input and args.input_format == "raw":
        from pyspark.sql import functions as F

        from cefspark.sources import read_raw_lines

        # raw frames carry no transcript metadata; synthesize the routing keys
        transcripts = (read_raw_lines(spark, args.input, args.delimiter)
                       .withColumn("conv_id", F.input_file_name())
                       .withColumn("turn_idx", F.lit(0))
                       .withColumn("role", F.lit("log"))
                       .withColumn("tool", F.lit(""))
                       .withColumn("ts", F.current_timestamp()))
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    elif args.synthesize:
        transcripts = fixtures.transcripts_df(spark, args.synthesize)
    else:
        p.error("one of --input / --synthesize is required")

    res = pipeline.run_pipeline(
        spark, transcripts, sink_path=args.sinks,
        decode_config=DecodeConfig(ecs_mode=args.ecs, now=args.now),
        salt_buckets=args.salt, collect_lineage=bool(args.input),
        counts_table=ManifestTable(args.table) if args.table else None)
    print(json.dumps(dataclasses.asdict(res)))


if __name__ == "__main__":
    main()
