"""``relay_stream``: an open loop at 1,000 events/s.

A generator thread drops one seeded 250-row parquet file every 0.25 s into
a directory. The query runs ``streaming.read_transcript_stream`` and
``streaming.routed_stream`` in ECS mode, re-encodes each event as a CEF line
with ``udfs.encode_dataframe`` and commits every micro-batch into a
``storage.ManifestTable`` through ``streaming.exactly_once_sink``.

A file's latency runs from its scheduled drop time to the ``committed_at``
of the snapshot that holds it, so a stall also delays every later file.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from cefspark import storage, streaming, udfs

import gen
import layers
import traced
from checks import check_relay
from common import pctl, start_session

RATE = 1_000                 # events/s
PERIOD_S = 0.25              # one file per period: a micro-batch holds several,
                             # so its latency does not hinge on where its
                             # start falls between two drops
FILE_ROWS = int(RATE * PERIOD_S)
WARM_FILES = 32              # fed before the measured files; not measured
TINY_ROWS = 500              # the warm-up file that ends set-up
CHAIN_FILES = 32             # relay files the traced prefix chain reads
TEXT_FILES = 8               # relay files whose payloads the layer rates use
COMMIT_TIMEOUT_S = 60.0
SINK_COLUMNS = ["conv_id", "turn_idx", "sink_id", "cef_line"]


def build_query(spark, d, table, name: str):
    stream = streaming.read_transcript_stream(spark, str(d / "in"))
    routed = streaming.routed_stream(stream, spark, layers.ECS_CONFIG)
    fwd = routed.select(*layers.HEADER_FIELDS, "conv_id", "turn_idx", "sink_id",
                        *[udfs.ext(k).alias(c) for c, k in layers.TS_KEYS.items()])
    enc = udfs.encode_dataframe(fwd, field_cols=layers.HEADER_FIELDS + layers.FORWARD_FIELDS,
                                config=layers.ENCODER_CONFIG)
    return streaming.exactly_once_sink(enc.select(*SINK_COLUMNS), table, name,
                                       str(d / "ckpt"), available_now=False)


def committed_rows(root) -> int:
    total = 0
    for p in (root / "manifests").glob("*.json"):
        with open(p) as f:
            total += json.load(f)["n_rows"]
    return total


def wait_rows(query, root, rows: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while committed_rows(root) < rows:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"{committed_rows(root)} of {rows} rows committed")
        time.sleep(0.01)


def stage_file(table, d, idx: int) -> str:
    name = f"f{idx:05d}.parquet"
    pq.write_table(table, d / "stage" / name)
    return name


def read_snapshots(root) -> tuple[list[dict], dict]:
    snaps, rows = [], {}
    for p in sorted((root / "manifests").glob("*.json")):
        with open(p) as f:
            snap = json.load(f)
        snaps.append(snap)
        rows[snap["snapshot_id"]] = pq.read_table(
            snap["data_dir"], columns=SINK_COLUMNS).to_pydict()
    return snaps, rows


class Feeder(threading.Thread):
    """Renames pre-written files into the watched directory on schedule:
    file ``i`` is due at ``start + i * PERIOD_S``."""

    def __init__(self, d, names: list[str], start: float):
        super().__init__(name="feeder", daemon=True)
        self.d, self.names = d, names
        self.due = [start + i * PERIOD_S for i in range(len(names))]
        self.late_ms: list[float] = []

    def run(self):
        for name, due in zip(self.names, self.due):
            while (wait := due - time.time()) > 0:
                time.sleep(min(wait, 0.05))
            os.rename(self.d / "stage" / name, self.d / "in" / name)
            self.late_ms.append(1000 * (time.time() - due))


def run(ctx, file_rows: int = FILE_ROWS, warm_files: int = WARM_FILES,
        tiny_rows: int = TINY_ROWS):
    t_gen = time.monotonic()
    n_feed = warm_files + round(ctx.seconds / PERIOD_S)
    d = ctx.work / "relay"
    for sub in ("in", "stage"):
        (d / sub).mkdir(parents=True)
    tiny, tiny_labels = gen.relay_files(1, tiny_rows, ctx.seed + 1)[0]
    os.rename(d / "stage" / stage_file(tiny, d, 0), d / "in" / "f00000.parquet")
    names, labels, texts = [], [tiny_labels], []
    for i, (tb, lab) in enumerate(gen.relay_files(n_feed, file_rows, ctx.seed, first_index=1)):
        names.append(stage_file(tb, d, 1 + i))
        labels.append(lab)
        if ctx.trace and i < TEXT_FILES:
            texts += tb.column("text").to_pylist()
    del tiny, tb
    gen_s = time.monotonic() - t_gen
    ops, tr = ctx.ops, ctx.tracer

    # set-up runs from process start until the set-up file is committed
    t_a = time.monotonic()
    with tr.span("session.start"):
        spark = ctx.spark = start_session(ctx.work, ctx.event_log if ctx.trace else None)
    t_b = time.monotonic()
    table = storage.ManifestTable(str(d / "table"))
    if ctx.trace:
        table = traced.TimedTable(table, tr)
    with tr.span("session.worker_boot"):
        query = build_query(spark, d, table, "relay")
        ops.run("setup", lambda: wait_rows(query, d / "table", tiny_rows, COMMIT_TIMEOUT_S),
                lambda _: [])
    t_c = time.monotonic()
    setup_s = t_c - ctx.t0 - gen_s
    ctx.diag.update({"session_start_s": t_b - t_a, "worker_boot_s": t_c - t_b})

    # one feed without a pause: the warm-up files bring the stream to its
    # steady cycle of micro-batches, and the measured files follow on the
    # same schedule
    total = tiny_rows + n_feed * file_rows
    feeder = Feeder(d, names, time.time() + 0.1)
    feeder.start()
    feeder.join()
    try:
        wait_rows(query, d / "table", total, COMMIT_TIMEOUT_S)
    except (RuntimeError, TimeoutError) as e:
        ops.record("drain", [str(e)])
    # batch 0 is the set-up file
    stream = traced.stream_record(tr, query, first_batch=1) if ctx.trace else None
    query.stop()

    snaps, rows = read_snapshots(d / "table")
    files = [(tiny_rows, labels[0])] + [(file_rows, lab) for lab in labels[1:]]
    file_snap, errors, global_errs = check_relay(snaps, rows, files, gen.FAILURE_SINK,
                                                 ctx.seed)
    del rows
    if global_errs:
        ops.record("snapshots", global_errs)
    for fi in range(len(files)):
        ops.record(f"file{fi}", errors.get(fi, []))

    # a file's latency runs from its scheduled drop to the commit of its
    # micro-batch; the files of one batch commit together, so the metric is
    # a median over batches, not files (per file, the batch's older files
    # form a sawtooth whose teeth shift from run to run)
    committed_at = {s["snapshot_id"]: s["committed_at"] for s in snaps}
    lat, dues = [], {}
    for i in range(warm_files, n_feed):
        sid = file_snap[1 + i]
        if sid is not None:
            due = feeder.due[i]
            lat.append(1000 * (committed_at[sid] - due))
            dues.setdefault(sid, []).append(due)
    if not lat:
        raise RuntimeError("no measured file was committed: " + "; ".join(ops.errors[:3]))
    batch_lat = [1000 * (committed_at[sid] - statistics.fmean(due_s))
                 for sid, due_s in dues.items()]
    span = max(committed_at[sid] for sid in dues) - feeder.due[warm_files]
    half = len(lat) // 2
    ctx.diag.update({
        "files_measured": len(lat), "batches_measured": len(batch_lat),
        "file_latency_ms": [round(x, 1) for x in lat],
        "file_latency_ms_first_half_p50": pctl(lat[:max(1, half)], 0.5),
        "file_latency_ms_second_half_p50": pctl(lat[half:], 0.5),
        "file_latency_ms.p50": pctl(lat, 0.5),
        "file_latency_ms.p90": pctl(lat, 0.9),
        "gen_late_ms.max": max(feeder.late_ms),
        "snapshots": len(snaps),
    })
    metrics = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (len(lat) * file_rows / span, "events/s"),
        "latency_ms.p50": (pctl(batch_lat, 0.5), "ms"),
    }
    if ctx.trace:
        chain = [d / "in" / f"f{1 + i:05d}.parquet" for i in range(min(CHAIN_FILES, n_feed))]
        ctx.layers = dict(
            op_group=stream["group"], ops=len(files), op_rows=total,
            decode_mode="ecs_ts", udfs=("decode_cef",),
            chain=traced.prefix_chain(ctx, spark, chain,
                                      gen.relay_expected(labels[1:1 + len(chain)]),
                                      layers.ECS_CONFIG),
            stream=stream,
            rates=traced.layer_rates(ctx, texts, texts, layers.ECS_CONFIG))
    return metrics
