"""spark-submit entry point for the STREAMING CEF pipeline.

The streaming twin of jobs/run_pipeline.py: a file-based transcript stream
is decoded -> enriched -> routed and appended to a ManifestTable snapshot
chain with END-TO-END exactly-once semantics
(cefspark.streaming.exactly_once_sink: Spark's checkpoint replays each
micro-batch at-least-once; the manifest ledger's per-batch token makes the
commit idempotent). Re-running with the same --checkpoint resumes: already
processed files are never re-read, replayed batches never double-commit,
and new files commit exactly their delta.

Usage (local example):

    python jobs/package.py                           # builds dist/cefspark.zip
    spark-submit --master local[32] \
        --py-files dist/cefspark.zip \
        jobs/stream_pipeline.py \
        --input /data/transcripts --table /data/routed \
        --checkpoint /data/ckpt --max-files-per-trigger 4

Prints ONE JSON line of metrics (batches drained, rows ingested, snapshot
chain length, wall seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="transcript parquet dir (conv_id,turn_idx,role,text,tool,ts)")
    p.add_argument("--table", required=True, help="ManifestTable root for routed rows")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument("--ecs", action="store_true")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from cefspark import streaming
    from cefspark.parser import DecodeConfig
    from cefspark.session import get_spark
    from cefspark.storage import ManifestTable

    spark = SparkSession.getActiveSession() or get_spark(
        app_name="cefspark-stream", cores=args.cpus or None)

    t0 = time.time()
    cfg = DecodeConfig(ecs_mode=args.ecs)
    stream = streaming.read_transcript_stream(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger)
    routed = streaming.routed_stream(stream, spark, cfg)

    table = ManifestTable(args.table)
    before = len(table.chain())
    q = streaming.exactly_once_sink(
        routed, table, query_name="stream_pipeline",
        checkpoint=args.checkpoint, partition_by=["sink_id"])
    q.awaitTermination()

    progress = [json.loads(j) for j in q.recentProgress] \
        if q.recentProgress and isinstance(q.recentProgress[0], str) \
        else [dict(pr) for pr in (q.recentProgress or [])]
    n_rows = sum(int(pr.get("numInputRows", 0)) for pr in progress)
    after = len(table.chain())
    wall = time.time() - t0
    print(json.dumps({
        "n_batches": len(progress),
        "n_input_rows": n_rows,
        "snapshots_before": before,
        "snapshots_after": after,
        "snapshot": table.latest_snapshot_id(),
        "wall_sec": round(wall, 2),
    }))


if __name__ == "__main__":
    main()
