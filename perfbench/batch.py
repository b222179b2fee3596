"""``sink_fanout``: the system-of-record batch job in a closed loop with one
client.

Each operation is ``pipeline.run_pipeline(spark, df, sink_path=...)`` over
the same seeded table: full-struct decode with the extensions map, the Arrow
boundary, persist, the salted shuffle and the partitioned parquet write,
then the windowed counts. After each job, outside its wall time, the sink
directory is read back and its rows per sink are checked.
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

from cefspark import pipeline

import gen
import traced
from checks import check_batch, check_sink
from common import pctl, start_session

ROWS = 100_000
FILES = 16           # four scan splits per core: a slowed core holds back less
TINY_ROWS = 4_000    # the warm-up operation that ends set-up
WARM_JOBS = 3        # full jobs after set-up, untimed: job times still fall through these
MIN_JOBS = 3


def write_table(table, path, files: int) -> None:
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def run(ctx, rows: int = ROWS, tiny_rows: int = TINY_ROWS):
    t_gen = time.monotonic()
    table, expected = gen.batch_table(rows, ctx.seed)
    tiny, tiny_expected = gen.batch_table(tiny_rows, ctx.seed + 1)
    main_dir, tiny_dir = ctx.work / "in" / "main", ctx.work / "in" / "tiny"
    write_table(table, main_dir, FILES)
    write_table(tiny, tiny_dir, 1)
    payloads = table.column("text").to_pylist()[:traced.LAYER_ROWS] if ctx.trace else None
    del table, tiny
    gen_s = time.monotonic() - t_gen
    sink = ctx.work / "sink"
    ops, tr = ctx.ops, ctx.tracer

    def job(spark, path, exp, name):
        return ops.run(name, lambda: pipeline.run_pipeline(
            spark, spark.read.parquet(str(path)), sink_path=str(sink), top_k=traced.TOP_K),
            lambda r: check_batch(r, exp) + check_sink([sink], exp))

    # set-up runs from process start until the first warm-up job returns
    t_a = time.monotonic()
    with tr.span("session.start"):
        spark = ctx.spark = start_session(ctx.work, ctx.event_log if ctx.trace else None)
    t_b = time.monotonic()
    with tr.span("session.worker_boot"):
        job(spark, tiny_dir, tiny_expected, "setup")
    t_c = time.monotonic()
    setup_s = t_c - ctx.t0 - gen_s
    ctx.diag.update({"session_start_s": t_b - t_a, "worker_boot_s": t_c - t_b})

    sc = spark.sparkContext
    sc.setJobGroup("warmup", "warmup")
    for w in range(WARM_JOBS):
        job(spark, main_dir, expected, f"warmup{w}")
    sc.setJobGroup("job", "job")
    times = []
    t_start = time.monotonic()
    while time.monotonic() - t_start < ctx.seconds or len(times) < MIN_JOBS:
        with tr.span("pipeline.run_pipeline"):
            res, seconds = job(spark, main_dir, expected, f"job{len(times)}")
        if res is not None:
            times.append(seconds)
        elif len(times) == 0 and ops.failed > 3:
            raise RuntimeError("batch jobs keep failing: " + "; ".join(ops.errors[:3]))
    half = len(times) // 2
    ctx.diag.update({
        "jobs": len(times), "job_s": [round(x, 4) for x in times],
        "job_s_first_half_p50": pctl(times[:max(1, half)], 0.5),
        "job_s_second_half_p50": pctl(times[half:], 0.5),
        "latency_ms.p90": 1000 * pctl(times, 0.9),
    })
    metrics = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (rows / pctl(times, 0.5), "events/s"),
        "latency_ms.p50": (1000 * pctl(times, 0.5), "ms"),
    }
    if ctx.trace:
        sc.setJobGroup("probe", "probe")
        ctx.layers = dict(
            op_group="job", ops=len(times), op_rows=rows * len(times),
            decode_mode="v1_full", udfs=("decode_cef", "other"),
            chain=traced.prefix_chain(ctx, spark, [main_dir], expected),
            stream=traced.stream_pass(ctx, spark, main_dir, expected),
            rates=traced.layer_rates(ctx, payloads, traced.relay_texts(ctx.seed, 2_000)))
    return metrics
