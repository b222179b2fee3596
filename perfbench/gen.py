"""Seeded input generator for the benchmark.

Self-contained on purpose: it imports nothing from ``cefspark``, so a change
to the program can never change the inputs or the expected outputs. Every
row is built from labels drawn here (vendor, severity, payload kind), and the
expected per-sink and failed-row counts are derived from those labels alone.

The mix follows the transcript fixtures: a hot vendor carries about 60% of
rows, about 7% are valid edge-case payloads and about 3% are malformed.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import numpy as np
import pyarrow as pa

FAILURE_SINK = "_cefparsefailure"
VENDORS = ["security", "FooBar", "Vendor", "fun", "acme", "CyberArk"]
VENDOR_P = [0.60, 0.08, 0.08, 0.08, 0.08, 0.08]
EDGE_SHARE = 0.07
MALFORMED_SHARE = 0.03
TURNS_PER_CONV = 8
ROLES = ["user", "assistant", "tool"]
TOOLS = ["", "search", "exec"]
BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
# fixed clock for yearless timestamps in the relay (DecodeConfig.now)
RELAY_NOW = "2026-10-01T00:00:00Z"

CANONICAL = ("CEF:0|{v}|threatmanager|1.0|100|trojan successfully stopped|{s}|"
             "src=10.0.0.{o} dst=12.121.122.{o} spt={p} msg=turn {i} of note "
             "suser=user{u} outcome=Success")

# (template, decoded deviceVendor, decoded severity); None keeps the row label
EDGE = [
    ("Oct 17 04:00:00 relay{o} CEF:0|{v}|threatmanager|1.0|100|relayed|{s}|src=10.0.0.{o}",
     None, None),
    ("CEF:0|{v}|threat\\|manager|1.0|100|escaped pipe|{s}|msg=a\\=b c{i}", None, None),
    ("CEF:0|ven\\|dor|threatmanager|1.0|100|pipe in vendor|{s}|src=10.0.0.{o}",
     "ven|dor", None),
    ("CEF:0|back\\\\slash|threatmanager|1.0|100|backslash vendor|{s}|spt={p}",
     "back\\slash", None),
    ("CEF:0||threatmanager|1.0|100|no vendor|{s}|src=10.0.0.{o}", "", None),
    ("CEF:0|{v}|threatmanager|1.0|100|piped severity|\\|{s}|", None, "|{s}"),
    ("CEF:0|{v}|threatmanager|1.0|100|unicode|{s}|suser=ユーザー{u} msg=café {i}",
     None, None),
    ("CEF:0|{v}|threatmanager|1.0|100|named severity|High|src=10.0.0.{o}", None, "High"),
    ("CEF:0|{v}|threatmanager|1.0|100|spaced|{s}|src=10.0.0.{o}  dst=1.1.1.1   spt={p}",
     None, None),
    ("CEF:0|{v}|threatmanager|1.0|100|custom|{s}|cs1=a{i} cs1Label=StringLabel "
     "cn1={i} cfp1=1.{o}", None, None),
]

MALFORMED = [
    "not a cef line {i}",
    "CEF:0|{v}|threatmanager|1.0|100|truncated {i}",
    "CEF:0|{v}|threatmanager|1.0|100|keyless|{s}|keyless tail {i} here",
]

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    # µs, not pyarrow's default ns: the Spark file stream rejects ns columns
    ("ts", pa.timestamp("us", tz="UTC")),
])


def severity_band(sev: str) -> str:
    if sev.isdigit() and int(sev) <= 10:
        n = int(sev)
        return "low" if n <= 3 else ("med" if n <= 6 else "high")
    return "unknown"


def sink_of(vendor: str, sev: str) -> str:
    return f"{vendor}/{severity_band(sev)}"


def _labels(rng: np.random.Generator, n: int):
    vendors = rng.choice(len(VENDORS), size=n, p=VENDOR_P)
    sevs = rng.integers(0, 11, size=n)
    octs = rng.integers(0, 256, size=n)
    ports = rng.integers(1, 65536, size=n)
    users = rng.integers(0, 1000, size=n)
    kind = rng.random(n)
    pick = rng.integers(0, 1 << 30, size=n)
    return vendors, sevs, octs, ports, users, kind, pick


def _table(conv_ids, texts, first_row: int) -> pa.Table:
    n = len(texts)
    idx = np.arange(first_row, first_row + n)
    ts = np.datetime64(BASE_TS.replace(tzinfo=None), "us") + idx.astype("timedelta64[s]")
    return pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array((idx % TURNS_PER_CONV).astype("int32")),
        "role": pa.array([ROLES[j % 3] for j in range(n)], pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array([TOOLS[j % 3] for j in range(n)], pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_SCHEMA)


def batch_table(n: int, seed: int):
    """A v1-mode transcript table of ``n`` rows and its expected outputs.

    Returns ``(table, expected)`` with ``expected = {"n_input", "n_failed",
    "sinks": {sink_id: rows}}``."""
    rng = np.random.default_rng([seed, 1])
    vendors, sevs, octs, ports, users, kind, pick = _labels(rng, n)
    texts = [None] * n
    sinks: Counter = Counter()
    edge_cut, bad_cut = EDGE_SHARE, EDGE_SHARE + MALFORMED_SHARE
    for i in range(n):
        v, s = VENDORS[vendors[i]], str(sevs[i])
        f = dict(v=v, s=s, o=int(octs[i]), p=int(ports[i]), u=int(users[i]), i=i)
        if kind[i] < edge_cut:
            tmpl, dv, ds = EDGE[pick[i] % len(EDGE)]
            texts[i] = tmpl.format(**f)
            sinks[sink_of(v if dv is None else dv,
                          s if ds is None else ds.format(s=s))] += 1
        elif kind[i] < bad_cut:
            texts[i] = MALFORMED[pick[i] % len(MALFORMED)].format(**f)
            sinks[FAILURE_SINK] += 1
        else:
            texts[i] = CANONICAL.format(**f)
            sinks[sink_of(v, s)] += 1
    conv = [f"conv-{j // TURNS_PER_CONV:08d}" for j in range(n)]
    expected = {"n_input": n, "n_failed": sinks[FAILURE_SINK], "sinks": dict(sinks)}
    return _table(conv, texts, 0), expected


# --- relay stream -------------------------------------------------------------

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec"]
_ZONES = ["Europe/Moscow", "America/New_York", "Asia/Tokyo", "UTC"]

RELAY_EVENT = ("CEF:0|{v}|threatmanager|1.0|100|relayed event|{s}|"
               "rt={t0} start={t1} end={t2} dtz={z} src=10.0.0.{o} spt={p} "
               "suser=user{u} msg=event {i}")
RELAY_MALFORMED_SHARE = 0.03


def _ts_strings(epoch_ms: np.ndarray) -> list[tuple[str, str, str]]:
    """Each instant in the three CEF timestamp forms: epoch millis,
    ``MMM dd yyyy HH:mm:ss.SSS`` and yearless ``MMM dd HH:mm:ss``."""
    d = epoch_ms.astype("datetime64[ms]")
    month_start = d.astype("datetime64[M]")
    year = d.astype("datetime64[Y]").astype(int) + 1970
    month = month_start.astype(int) % 12
    day = (d.astype("datetime64[D]") - month_start.astype("datetime64[D]")).astype(int) + 1
    sod = (epoch_ms // 1000) % 86400
    out = []
    for ms, y, mo, dd, s in zip(epoch_ms.tolist(), year.tolist(), month.tolist(),
                                day.tolist(), sod.tolist()):
        hms = f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
        mon = _MONTHS[mo]
        out.append((str(ms), f"{mon} {dd:02d} {y} {hms}.{ms % 1000:03d}",
                    f"{mon} {dd:02d} {hms}"))
    return out


def relay_files(n_files: int, rows_per_file: int, seed: int, first_index: int = 0):
    """Per-file relay tables. Every valid event carries ``rt``, ``start`` and
    ``end``, one in each timestamp form (rotated per row), plus ``dtz``.

    Returns a list of ``(table, labels)``; ``labels`` maps ``conv_id`` to
    ``(deviceVendor, severity)`` for valid rows and to ``None`` for malformed
    ones. conv_ids carry the file index (``r<file>-<row>``, counting from
    ``first_index``), so each committed row names the file it came from."""
    rng = np.random.default_rng([seed, 2, first_index])
    base_ms = 1_759_000_000_000  # late Sep 2025; yearless forms resolve against RELAY_NOW
    out = []
    for fi in range(first_index, first_index + n_files):
        n = rows_per_file
        vendors, sevs, octs, ports, users, kind, pick = _labels(rng, n)
        stamps = _ts_strings(base_ms + rng.integers(0, 86_400_000, size=3 * n))
        conv, texts, labels = [], [], {}
        for i in range(n):
            cid = f"r{fi:05d}-{i:06d}"
            v, s = VENDORS[vendors[i]], str(sevs[i])
            if kind[i] < RELAY_MALFORMED_SHARE:
                texts.append(f"not a cef line {cid}")
                labels[cid] = None
            else:
                t0, t1, t2 = (stamps[3 * i + k][(k + i) % 3] for k in range(3))
                texts.append(RELAY_EVENT.format(
                    v=v, s=s, t0=t0, t1=t1, t2=t2, z=_ZONES[pick[i] % len(_ZONES)],
                    o=int(octs[i]), p=int(ports[i]), u=int(users[i]), i=i))
                labels[cid] = (v, s)
            conv.append(cid)
        out.append((_table(conv, texts, fi * n), labels))
    return out


def relay_expected(labels: list[dict]) -> dict:
    """Expected outputs of a batch job over relay files, from their labels:
    the same shape as :func:`batch_table`'s ``expected``."""
    sinks = Counter(FAILURE_SINK if lab is None else sink_of(*lab)
                    for per_file in labels for lab in per_file.values())
    return {"n_input": sum(len(per_file) for per_file in labels),
            "n_failed": sinks[FAILURE_SINK], "sinks": dict(sinks)}
