#!/usr/bin/env python3
"""cefspark benchmark: one named workload from one seed.

    python3 perfbench/run.py --workload sink_fanout --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The script builds its inputs from the seed,
runs the workload on a ``local[4]`` Spark session, checks every operation's
output and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run turns Spark's
event log on and reports the per-layer metrics instead. A line starting with
``diagnostics`` before it records host noise (CPU steal, the time of a fixed
pure-Python loop after the run, generator lateness, first- vs second-half
latency); nothing is dropped or retried because of it.

All files go under ``.perfbench_work/`` in the checkout; the run's spans and
diagnostics stay there as ``last-<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("sink_fanout", "relay_stream")


class Ctx:
    """What one run shares between the harness and the workload."""

    def __init__(self, args, t0: float, work: Path):
        from checks import Ops
        from common import Tracer

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.t0 = t0
        self.work = work
        self.event_log = work / "eventlog"
        self.ops = Ops()
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.diag: dict = {}
        self.spark = None
        self.layers: dict = {}     # what a traced run's probes measured


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cefspark" / "__init__.py").is_file():
        print(f"perfbench: no cefspark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    diag, result = execute(args)
    print("diagnostics " + json.dumps(diag), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def execute(args, **sizes) -> tuple[dict, dict]:
    """Run one workload; returns ``(diagnostics, result)``. ``sizes`` shrink
    the workload's inputs (the self-tests use them)."""
    sys.path.insert(0, str(ROOT))
    from common import (RssSampler, cpu_ticks, process_age_s, ref_loop_ms,
                        shutdown_spark, steal_pct)

    t0 = time.monotonic() - process_age_s()
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Python workers import cefspark from the checkout; every temp file stays in it
    env = {"PYTHONPATH": os.pathsep.join(
               [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
           "PYSPARK_PYTHON": sys.executable, "TMPDIR": str(work / "tmp"),
           "SPARK_LOCAL_DIRS": str(work / "local"),
           # the short-lived launcher JVM that spark-submit starts first
           "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"}
    if args.workload == "sink_fanout":
        import batch as workload
    else:
        import relay as workload

    ctx = Ctx(args, t0, work)
    ticks0 = cpu_ticks()
    saved_env = {k: os.environ.get(k) for k in env}
    saved_tempdir = tempfile.tempdir
    os.environ.update(env)
    tempfile.tempdir = str(work / "tmp")
    try:
        with RssSampler() as rss:
            try:
                metrics = workload.run(ctx, **sizes)
            finally:
                shutdown_spark(ctx.spark)
        # memory is reported, not gated: the JVM's resident size follows how
        # far the collector grows the heap, which varies from run to run
        ctx.diag.update({"peak_rss_mb": rss.peak / 2**20,
                         "peak_rss_mb.jvm": rss.peak_jvm / 2**20,
                         "peak_rss_mb.python": rss.peak_python / 2**20})
        ctx.diag["host.steal_pct"] = steal_pct(ticks0, cpu_ticks())
        ctx.diag["host.ref_loop_ms"] = ref_loop_ms()
        ctx.diag["op_fail_ratio"] = ctx.ops.failed / max(1, ctx.ops.attempted)
        ctx.diag["op_errors"] = ctx.ops.errors
        if ctx.trace:
            from eventlog import read_event_log
            from report import per_layer

            out = per_layer(ctx, read_event_log(ctx.event_log))
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        name = f"last-{args.workload}-{args.seed}-trace{int(ctx.trace)}.json"
        with open(base / name, "w") as f:
            json.dump({"diagnostics": ctx.diag, "metrics": out,
                       "spans": ctx.tracer.spans}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    return ctx.diag, {"correct": ctx.ops.failed == 0, "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
