"""Shared benchmark plumbing: spans, process-tree memory, host noise,
percentiles and the Spark session's life cycle.

Nothing here changes what the program does. Timing is taken around calls
into the program's public functions, from the benchmark's side.
"""

from __future__ import annotations

import itertools
import math
import os
import signal
import threading
import time
from contextlib import contextmanager
from pathlib import Path

CORES = 4
RSS_PERIOD_S = 0.2        # memory sample period
TREE_REFRESH_S = 1.0      # how often the process tree is re-listed
STOP_TIMEOUT_S = 60.0     # wait for the JVM and its workers to exit


# --- statistics ---------------------------------------------------------------

def pctl(values, q: float) -> float:
    """Percentile ``q`` in [0, 1], linearly interpolated between the two
    nearest ranks (p50 is the median)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no samples")
    pos = q * (len(vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


# --- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent and run id. Spans are kept
    in a list and written once, at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def add(self, name: str, start: float, end: float, **attrs) -> int:
        """A span timed elsewhere (for example from Spark's query progress),
        with no parent."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append(dict(id=sid, name=name, start=start, end=end,
                                   parent=None, run=self.run_id, **attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parents = self._parents()
        with self._lock:
            sid = next(self._ids)
        parent = parents[-1] if parents else None
        parents.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            parents.pop()
            with self._lock:
                self.spans.append(dict(id=sid, name=name, start=start,
                                       end=time.time(), parent=parent,
                                       run=self.run_id, **attrs))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its children cover (children clipped to the parent,
    overlapping children counted once)."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# --- process tree and host ----------------------------------------------------

def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _comm_ppid(pid: int) -> tuple[str, int]:
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], int(tail.split()[1])


def rss_bytes(pids, root: int) -> tuple[int, int]:
    """Resident size of the driver JVM and of the Python processes, each
    summed. The driver JVM is the ``java`` child of ``root``; processes the
    JVM starts for a moment (shell commands, spawn helpers) are skipped,
    since a child that shares the JVM's memory would count it twice. Python
    processes count their proportional share (PSS): the forked workers share
    most pages with the daemon, and summing plain RSS would count those once
    per worker. The JVM counts plain RSS, which shares nothing here and is
    cheap to read (its PSS read takes ~20 ms and holds the JVM's memory-map
    lock)."""
    jvm = python = 0
    for pid in pids:
        try:
            comm, ppid = _comm_ppid(pid)
            if comm == "java" and ppid == root:
                with open(f"/proc/{pid}/statm") as f:
                    jvm += int(f.read().split()[1]) * _PAGE
            elif comm.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            python += int(line.split()[1]) * 1024
                            break
        except OSError:
            continue
    return jvm, python


class RssSampler:
    """Background thread sampling the summed resident size of this process
    and its descendants (driver JVM, Python workers) every ``RSS_PERIOD_S``;
    the process tree itself is re-read every ``TREE_REFRESH_S``."""

    def __init__(self):
        self.peak = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self):
        me, pids, listed = os.getpid(), [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed >= TREE_REFRESH_S:
                pids, listed = descendants(me), time.monotonic()
            jvm, python = rss_bytes([me, *pids], me)
            self.peak = max(self.peak, jvm + python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def ref_loop_ms(repeats: int = 5) -> float:
    """Median milliseconds of a fixed pure-Python loop: a reading of host
    speed that runs no program code. The host's speed can change by 2x
    within minutes without any CPU steal showing, so runs record it."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(1000 * (time.perf_counter() - t))
    return sorted(times)[repeats // 2]


def process_age_s() -> float:
    """Seconds since this process started, from /proc (covers interpreter
    start-up, which a clock read in the script would miss)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --- Spark session life cycle -------------------------------------------------

def start_session(work: Path, event_log: Path | None = None):
    """A ``local[4]`` session from the program's own factory. Every path
    Spark writes stays under ``work``."""
    from cefspark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=STOP_TIMEOUT_S)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + STOP_TIMEOUT_S
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + STOP_TIMEOUT_S
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
