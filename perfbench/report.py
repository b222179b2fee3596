"""Per-layer metrics of a traced run, assembled from the spans, the
in-process layer rates and the Spark event log.

Both workloads run every probe (see ``traced.py``), so every metric is
measured on every workload. ``spark.*`` and ``udfs.*`` describe the
workload's own operations, per operation: a ``sink_fanout`` job, or a fed
``relay_stream`` file.
"""

from __future__ import annotations

from common import pctl, self_times
from eventlog import EventLog

PER_LAYER = [
    ("session.start_s", "s"), ("session.worker_boot_s", "s"),
    ("sources.scan_s", "s"),
    ("parser.rows_per_s_core.v1_full", "rows/s"),
    ("parser.rows_per_s_core.v1_routing", "rows/s"),
    ("parser.rows_per_s_core.ecs_ts", "rows/s"),
    ("parser.failed_rows", "count"),
    ("udfs.decode_stage_s", "s"), ("udfs.python_s", "s"),
    ("udfs.bytes_to_python", "bytes"), ("udfs.bytes_from_python", "bytes"),
    ("udfs.boundary_ratio", "ratio"),
    ("timestamps.values_per_s_core", "values/s"),
    ("pipeline.enrich_route_s", "s"), ("pipeline.counts_s", "s"),
    ("pipeline.write_sinks_s", "s"), ("pipeline.shuffle_write_bytes", "bytes"),
    ("pipeline.sink_files", "count"), ("pipeline.sink_bytes", "bytes"),
    ("pipeline.max_task_rows", "count"),
    ("encoder.rows_per_s_core", "rows/s"),
    ("streaming.batch_ms.p50", "ms"), ("streaming.add_batch_ms.p50", "ms"),
    ("streaming.trigger_overhead_ms.p50", "ms"),
    ("streaming.rows_per_batch.p50", "count"), ("streaming.batches", "count"),
    ("streaming.self_ms.mean", "ms"),
    ("storage.commit_ms.p50", "ms"), ("storage.ledger_ms.p50", "ms"),
    ("storage.spark_jobs_per_commit", "count"),
    ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.tasks", "count"),
    ("memory.peak_rss_mb", "MB"), ("memory.jvm_rss_mb", "MB"),
    ("memory.python_pss_mb", "MB"),
    ("trace.job_wall_s", "s"), ("trace.prefix_sum_s", "s"),
    ("trace.prefix_coverage", "ratio"), ("trace.overhead_ratio", "ratio"),
]


def _durations_ms(spans: list[dict], name: str) -> list[float]:
    return [1e3 * (s["end"] - s["start"]) for s in spans if s["name"] == name]


def per_layer(ctx, log: EventLog) -> dict:
    lay, spans = ctx.layers, ctx.tracer.spans
    rates, chain, prog = lay["rates"], lay["chain"], lay["stream"]["progress"]
    delta = chain["delta"]
    out = {
        "memory.peak_rss_mb": ctx.diag["peak_rss_mb"],
        "memory.jvm_rss_mb": ctx.diag["peak_rss_mb.jvm"],
        "memory.python_pss_mb": ctx.diag["peak_rss_mb.python"],
        "session.start_s": ctx.diag["session_start_s"],
        "session.worker_boot_s": ctx.diag["worker_boot_s"],
        "parser.failed_rows": rates["failed_rows"],
        "timestamps.values_per_s_core": rates["timestamps"],
        "encoder.rows_per_s_core": rates["encoder"],
        "sources.scan_s": delta["scan"], "udfs.decode_stage_s": delta["decode"],
        "pipeline.enrich_route_s": delta["enrich_route"],
        "pipeline.counts_s": delta["counts"],
        "pipeline.write_sinks_s": delta["write_sinks"],
        "pipeline.sink_files": chain["sink_files"], "pipeline.sink_bytes": chain["sink_bytes"],
        "trace.job_wall_s": chain["job_wall_s"],
        "trace.prefix_sum_s": sum(delta.values()),
        "trace.prefix_coverage": sum(delta.values()) / chain["job_wall_s"],
        "trace.overhead_ratio": chain["overhead_ratio"],
    }
    for mode, rate in rates["parser"].items():
        out[f"parser.rows_per_s_core.{mode}"] = rate
    write = log.totals("prefix.write_sinks.0")
    out["pipeline.shuffle_write_bytes"] = write.shuffle_write_bytes
    out["pipeline.max_task_rows"] = write.max_task_records_written

    # the workload's own operations
    op, per = log.totals(lay["op_group"]), lay["ops"]
    out.update({
        "spark.task_cpu_s": op.cpu_ns / 1e9 / per,
        "spark.task_run_s": op.run_ms / 1e3 / per,
        "spark.gc_s": op.gc_ms / 1e3 / per,
        "spark.shuffle_read_bytes": op.shuffle_read_bytes / per,
        "spark.tasks": op.tasks / per,
    })

    def python(key):
        return sum(op.python.get(u, {}).get(key, 0) for u in lay["udfs"])
    out["udfs.python_s"] = python("python_ms") / 1e3 / per
    out["udfs.bytes_to_python"] = python("bytes_to_python") / per
    out["udfs.bytes_from_python"] = python("bytes_from_python") / per
    # Python runner time over the time the decode body alone needs for the
    # same rows (core-seconds on both sides): above 1 is the Arrow/pandas
    # conversion and the worker hand-off
    out["udfs.boundary_ratio"] = (python("python_ms") / 1e3
                                  / (lay["op_rows"] / rates["parser"][lay["decode_mode"]]))

    # the exactly-once stream sink's micro-batches
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    add = [p["durationMs"].get("addBatch", 0) for p in prog]
    commits = [s for s in spans if s["name"] == "storage.commit"]
    jobs = sum(log.jobs_between(s["start"], s["end"]) for s in commits)
    out.update({
        "streaming.batch_ms.p50": pctl(trig, 0.5),
        "streaming.add_batch_ms.p50": pctl(add, 0.5),
        "streaming.trigger_overhead_ms.p50": pctl([a - b for a, b in zip(trig, add)], 0.5),
        "streaming.rows_per_batch.p50": pctl([p["numInputRows"] for p in prog], 0.5),
        "streaming.batches": len(prog),
        "streaming.self_ms.mean": 1e3 * self_times(spans)["streaming.batch"] / len(prog),
        "storage.commit_ms.p50": pctl(_durations_ms(spans, "storage.commit"), 0.5),
        "storage.ledger_ms.p50": pctl(_durations_ms(spans, "storage.ledger"), 0.5),
        "storage.spark_jobs_per_commit": jobs / len(commits),
    })
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER}
