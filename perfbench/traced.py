"""Probes of a traced run, the same on both workloads.

- The tracing overhead: one ``run_pipeline`` job over the workload's own
  input, alternately with Spark's event log detached and attached.
- The cumulative prefix chain of that job (scan, +decode, +enrich/route,
  +counts, +write_sinks), built from the same public functions, so each
  layer's share is a difference of two wall times.
- The exactly-once stream sink's micro-batches, with a timing proxy around
  ``ManifestTable`` (``relay_stream`` measures its own feed;
  ``sink_fanout`` commits its table through the sink, a few files per
  micro-batch).
- Single-thread, in-process layer rates on the workload's own payloads.

Every probe times calls into the program's public functions from outside.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

from cefspark import pipeline, storage, streaming

import gen
import layers
from checks import check_batch, check_sink

PREFIXES = ("scan", "decode", "enrich_route", "counts", "write_sinks")
OVERHEAD_PAIRS = 2          # jobs with the event log detached, then attached
PREFIX_ROUNDS = 2
TOP_K = 1_000               # above the sink count, so every sink is reported
LAYER_ROWS = 10_000
STREAM_FILES_PER_TRIGGER = 2
STREAM_TIMEOUT_S = 120.0
SINK_COLUMNS = ["conv_id", "turn_idx", "sink_id"]


class TimedTable:
    """Timing proxy around ``ManifestTable.commit`` and
    ``ManifestTable.consumed_inputs``: the two calls the exactly-once sink
    makes per micro-batch. Everything else passes through."""

    def __init__(self, table, tracer):
        self._table = table
        self._tracer = tracer

    def commit(self, *args, **kwargs):
        with self._tracer.span("storage.commit"):
            return self._table.commit(*args, **kwargs)

    def consumed_inputs(self):
        with self._tracer.span("storage.ledger"):
            return self._table.consumed_inputs()

    def __getattr__(self, name):
        return getattr(self._table, name)


@contextmanager
def event_log_detached(spark):
    """Spark's event-log listener off the listener bus for the body, so the
    jobs in it are not logged. The bus is drained first on both sides, so no
    event of a job outside the body is lost or gained."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(logger)
    try:
        yield
    finally:
        sc.listenerBus().waitUntilEmpty()
        sc.addSparkListener(logger)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counts_report(routed) -> None:
    """The report tail of ``run_pipeline``: materialized counts, scalars,
    sink count and top sinks."""
    counts = pipeline.sink_counts(routed).localCheckpoint(eager=True)
    pipeline.counts_scalars(counts)
    counts.select("sink_id").distinct().count()
    (counts.groupBy("sink_id").agg(F.sum("n_events").alias("n"))
     .orderBy(F.desc("n")).limit(TOP_K).collect())


def prefix_chain(ctx, spark, paths: list, expected: dict, config=None) -> dict:
    """Tracing overhead, then the prefix chain, over the table at ``paths``.

    The overhead is the median job wall with the event log attached over
    the median with it detached. Each prefix counts its fastest run, so the
    chain's deltas are compared with the fastest attached job."""
    sc, tr, ops = spark.sparkContext, ctx.tracer, ctx.ops
    df = spark.read.parquet(*map(str, paths))
    sink = ctx.work / "chain_sink"

    def job():
        return pipeline.run_pipeline(spark, df, sink_path=str(sink),
                                     decode_config=config, top_k=TOP_K)

    def check(res):
        return check_batch(res, expected) + check_sink([sink], expected)

    # one untimed job first: on relay_stream it is the session's first batch
    # job, which would otherwise weigh on the detached side
    sc.setJobGroup("overhead.warmup", "tracing overhead")
    ops.run("overhead.warmup", job, check)
    walls: dict[bool, list] = {False: [], True: []}
    for k in range(2 * OVERHEAD_PAIRS):
        logged = k % 2 == 1
        sc.setJobGroup(f"overhead.{'on' if logged else 'off'}", "tracing overhead")
        with nullcontext() if logged else event_log_detached(spark):
            with tr.span("trace.job", event_log=logged):
                _, seconds = ops.run(f"overhead{k}", job, check)
        walls[logged].append(seconds)

    steps = {
        "scan": lambda: _noop(df),
        "decode": lambda: _noop(pipeline.decode(df, config=config)),
        "enrich_route": lambda: _noop(pipeline.route(pipeline.enrich(
            pipeline.decode(df, config=config), spark))),
        "counts": lambda: _counts_report(pipeline.route(pipeline.enrich(
            pipeline.decode(df, config=config), spark))),
    }
    # each prefix's fastest of PREFIX_ROUNDS runs of the chain: a layer
    # whose share is small would otherwise drown in one run's noise
    wall = {name: float("inf") for name in PREFIXES}
    for r in range(PREFIX_ROUNDS):
        for name in PREFIXES:
            sc.setJobGroup(f"prefix.{name}.{r}", name)
            with tr.span(f"prefix.{name}", round=r):
                if name == "write_sinks":
                    _, seconds = ops.run(f"prefix.write_sinks{r}", job, check)
                else:
                    t = time.perf_counter()
                    steps[name]()
                    seconds = time.perf_counter() - t
            wall[name] = min(wall[name], seconds)
    sc.setJobGroup("probe", "probe")
    files = list(sink.rglob("*.parquet"))
    return dict(
        job_wall_s=min(walls[True]),
        overhead_ratio=statistics.median(walls[True]) / statistics.median(walls[False]),
        delta={n: wall[n] - (wall[PREFIXES[i - 1]] if i else 0.0)
               for i, n in enumerate(PREFIXES)},
        sink_files=len(files), sink_bytes=sum(p.stat().st_size for p in files))


def committed_dirs(root) -> list[str]:
    """Data directories of every snapshot in a ``ManifestTable``'s chain."""
    dirs = []
    for p in sorted((root / "manifests").glob("*.json")):
        with open(p) as f:
            dirs.append(json.load(f)["data_dir"])
    return dirs


def stream_pass(ctx, spark, in_dir, expected: dict) -> dict:
    """Commit the table under ``in_dir`` through the exactly-once stream sink
    (v1 decode, enrich, route) into a timed ``ManifestTable``, a few files
    per micro-batch, and check the committed rows per sink."""
    d = ctx.work / "stream_pass"
    table = TimedTable(storage.ManifestTable(str(d / "table")), ctx.tracer)
    stream = streaming.read_transcript_stream(
        spark, str(in_dir), max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
    routed = streaming.routed_stream(stream, spark)
    query = streaming.exactly_once_sink(routed.select(*SINK_COLUMNS), table,
                                        "stream_pass", str(d / "ckpt"))

    def drain():
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            query.stop()
            raise TimeoutError(f"stream pass still running after {STREAM_TIMEOUT_S} s")
        return committed_dirs(d / "table")

    ctx.ops.run("stream_pass", drain, lambda dirs: check_sink(dirs, expected))
    return stream_record(ctx.tracer, query, first_batch=0)


def stream_record(tracer, query, first_batch: int) -> dict:
    """The query's batches from ``first_batch`` on that read rows, from its
    progress. Each becomes a ``streaming.batch`` span and the parent of the
    storage spans inside it, so its self time leaves the commit out."""
    progress = [json.loads(p.json) if hasattr(p, "json") else p
                for p in query.recentProgress]
    batches = [p for p in progress
               if p.get("numInputRows", 0) > 0 and p["batchId"] >= first_batch]
    for p in batches:
        start = _epoch(p["timestamp"])
        tracer.add("streaming.batch", start,
                   start + p["durationMs"].get("triggerExecution", 0) / 1000,
                   batch=p["batchId"])
    _nest(tracer.spans, "streaming.batch", ("storage.commit", "storage.ledger"))
    return dict(progress=batches, group=str(query.runId))


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _nest(spans: list[dict], parent_name: str, child_names: tuple) -> None:
    """Parent each child span to the ``parent_name`` span that contains it."""
    parents = [s for s in spans if s["name"] == parent_name]
    for c in spans:
        if c["name"] in child_names:
            for p in parents:
                if p["start"] <= c["start"] and c["end"] <= p["end"] + 0.005:
                    c["parent"] = p["id"]
                    break


def layer_rates(ctx, payloads: list[str], ts_texts: list[str], config=None) -> dict:
    """Single-thread rates of the parser, timestamp normalizer and encoder,
    and the decoder's exact failed-row count, on the workload's payloads
    (``config`` is the workload's decode config)."""
    payloads = payloads[:LAYER_ROWS]
    with ctx.tracer.span("layers.in_process"):
        return dict(
            parser=layers.parser_rates(payloads),
            timestamps=layers.timestamp_rate(layers.timestamp_values(ts_texts)),
            encoder=layers.encoder_rate(layers.encode_input(layers.decode(payloads, config))),
            failed_rows=layers.failed_rows(payloads, config))


def relay_texts(seed: int, rows: int) -> list[str]:
    """Relay payloads, for the timestamp rate of a workload that has none."""
    return gen.relay_files(1, rows, seed)[0][0].column("text").to_pylist()
