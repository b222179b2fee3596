"""Output checks. Every operation (a batch job, a fed file) is checked
against expectations the generator derived from its own labels; a failed
check counts the operation as failed."""

from __future__ import annotations

import random
import time
from collections import Counter, defaultdict

import pyarrow.dataset as ds

# re-encoded rows per relay file whose headers are decoded back and compared
RELAY_SAMPLE = 200


class Ops:
    """Attempted/failed operation counts, with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{name}: {'; '.join(errors[:3])}")

    def run(self, name: str, fn, check):
        """Call ``fn``; an exception or a failed ``check(result)`` fails the
        operation. Returns ``(result, seconds)``: the result is None when
        the call raised, and ``seconds`` is the call's wall time, which
        leaves the check out."""
        t = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is data
            self.record(name, [f"raised {type(e).__name__}: {str(e)[:300]}"])
            return None, time.perf_counter() - t
        seconds = time.perf_counter() - t
        self.record(name, check(res))
        return res, seconds


def check_batch(res, expected: dict) -> list[str]:
    """``pipeline.run_pipeline``'s report against the generator's counts.
    The report is computed from the routed frame, not from the files written,
    so a job with a sink path is also checked with :func:`check_sink`."""
    errs = []
    if res.n_input != expected["n_input"]:
        errs.append(f"n_input {res.n_input} != {expected['n_input']}")
    if res.n_failed != expected["n_failed"]:
        errs.append(f"n_failed {res.n_failed} != {expected['n_failed']}")
    if res.n_sinks != len(expected["sinks"]):
        errs.append(f"n_sinks {res.n_sinks} != {len(expected['sinks'])}")
    got = {s: int(n) for s, n in res.top_sinks}
    if got != expected["sinks"]:
        bad = sorted(set(got.items()) ^ set(expected["sinks"].items()))[:4]
        errs.append(f"per-sink counts differ: {bad}")
    return errs


def sink_counts(*paths) -> Counter:
    """Rows per ``sink_id`` in parquet directories, read back with pyarrow:
    ``sink_id`` is either a column or a hive partition (``sink_id=<v>/``)."""
    out: Counter = Counter()
    for path in paths:
        table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
            columns=["sink_id"])
        out.update(table.column("sink_id").to_pylist())
    return out


def check_sink(paths: list, expected: dict) -> list[str]:
    """The rows written under ``paths``, per sink, against the generator's
    counts: a lost, duplicated or misrouted row fails the operation."""
    try:
        got = sink_counts(*paths)
    except (OSError, ValueError) as e:  # no files, unreadable files
        return [f"sink unreadable: {type(e).__name__}: {str(e)[:200]}"]
    if got != Counter(expected["sinks"]):
        bad = sorted(set(got.items()) ^ set(expected["sinks"].items()))[:4]
        return [f"sink files differ per sink: {bad}"]
    return []


def cef_headers(line: str) -> list[str]:
    """The 7 header fields of a CEF line, unescaping ``\\|`` and ``\\\\``.
    Written here, not taken from the program, so the round-trip check is
    independent of the decoder under test."""
    if not line.startswith("CEF:"):
        return []
    fields, cur, i = [], [], 4
    while i < len(line) and len(fields) < 7:
        ch = line[i]
        if ch == "\\" and i + 1 < len(line) and line[i + 1] in "|\\":
            cur.append(line[i + 1])
            i += 2
            continue
        if ch == "|":
            fields.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    return fields if len(fields) == 7 else []


def check_relay(snapshots: list[dict], rows_by_snapshot: dict, files: list,
                failure_sink: str, seed: int):
    """Per-file checks of a relay feed.

    ``snapshots`` are manifest dicts; ``rows_by_snapshot[snapshot_id]`` holds
    the committed ``conv_id``, ``turn_idx``, ``sink_id`` and ``cef_line``
    columns; ``files[i]`` is ``(n_rows, labels)``.

    Returns ``(file_snapshot, errors_by_file, global_errors)``:
    ``file_snapshot[i]`` is the one snapshot holding file ``i`` (or None)."""
    where = defaultdict(set)           # file index -> snapshot ids
    per_file_rows: Counter = Counter()
    seen: set = set()
    dup_files: set = set()
    bad_rows = defaultdict(list)
    rng = random.Random(seed)
    for snap in snapshots:
        cols = rows_by_snapshot[snap["snapshot_id"]]
        n = len(cols["conv_id"])
        if n != snap["n_rows"]:
            bad_rows[-1].append(f"snapshot {snap['snapshot_id']} holds {n} rows, "
                                f"manifest says {snap['n_rows']}")
        for j in range(n):
            cid = cols["conv_id"][j]
            fi = int(cid[1:6]) if cid and cid[1:6].isdigit() else -1
            if not 0 <= fi < len(files):
                bad_rows[-1].append(f"row {cid!r} from no fed file")
                continue
            where[fi].add(snap["snapshot_id"])
            per_file_rows[fi] += 1
            key = (cid, cols["turn_idx"][j])
            if key in seen:
                dup_files.add(fi)
            seen.add(key)
            label = files[fi][1].get(cid, "missing")
            if label == "missing":
                bad_rows[fi].append(f"unknown row {cid}")
            elif label is None:
                if cols["sink_id"][j] != failure_sink:
                    bad_rows[fi].append(f"{cid} routed to {cols['sink_id'][j]}")
            elif rng.random() < RELAY_SAMPLE / max(1, len(files[fi][1])):
                hdr = cef_headers(cols["cef_line"][j] or "")
                if not hdr or (hdr[1], hdr[6]) != label:
                    bad_rows[fi].append(f"{cid} re-encoded as {hdr[1:7:5]} not {label}")
    file_snapshot, errors = [], {}
    for fi, (n_rows, _) in enumerate(files):
        errs = list(bad_rows.get(fi, []))
        if per_file_rows[fi] != n_rows:
            errs.append(f"{per_file_rows[fi]} rows committed of {n_rows} fed")
        if len(where[fi]) != 1:
            errs.append(f"in {len(where[fi])} snapshots")
        if fi in dup_files:
            errs.append("duplicate (conv_id, turn_idx)")
        file_snapshot.append(next(iter(where[fi])) if len(where[fi]) == 1 else None)
        if errs:
            errors[fi] = errs
    return file_snapshot, errors, bad_rows.get(-1, [])
