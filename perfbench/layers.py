"""Single-thread, in-process layer rates on a workload's own inputs.

Each rate calls one public function of the program in a loop for a fixed
time and reports the median over the calls, because single calls on 10k
rows vary too much to compare.
"""

from __future__ import annotations

import re
import statistics
import time

import pandas as pd

from cefspark.encoder import EncoderConfig, encode_batch
from cefspark.parser import DecodeConfig, decode_batch
from cefspark.pipeline import ROUTING_COLUMNS
from cefspark.timestamps import TimestampNormalizer
from cefspark.udfs import DECODED_STRUCT

import gen

FULL_COLUMNS = [f.name for f in DECODED_STRUCT.fields]
# the UDF hands decode_batch its columns in DECODED_STRUCT order
ROUTING_ORDERED = [c for c in FULL_COLUMNS if c in ROUTING_COLUMNS]
ECS_CONFIG = DecodeConfig(ecs_mode=True, now=gen.RELAY_NOW)
# what the relay forwards: headers from the decoded event, then a few fields
HEADER_FIELDS = ["deviceVendor", "deviceProduct", "deviceVersion",
                 "deviceEventClassId", "name", "severity"]
FORWARD_FIELDS = ["conv_id", "sink_id", "rt_iso", "start_iso", "end_iso"]
ENCODER_CONFIG = EncoderConfig(
    vendor="%{deviceVendor}", product="%{deviceProduct}", version="%{deviceVersion}",
    signature="%{deviceEventClassId}", name="%{name}", severity="%{severity}",
    fields=FORWARD_FIELDS)
# extension keys of the three relay timestamps after ECS decode
TS_KEYS = {"rt_iso": "@timestamp", "start_iso": "[event][start]",
           "end_iso": "[event][end]"}
_TS_FIELD = re.compile(r"\b(rt|start|end)=(.*?) (?=\w+=)")
_DTZ = re.compile(r"\bdtz=(\S+)")


BUDGET_S = 1.0   # each rate loops for this long
MIN_CALLS = 3


def timed_rate(fn, n_items: int) -> float:
    """Items per second from the median call of repeated calls."""
    times = []
    deadline = time.perf_counter() + BUDGET_S
    while len(times) < MIN_CALLS or time.perf_counter() < deadline:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return n_items / statistics.median(times)


def parser_rates(payloads: list[str]) -> dict[str, float]:
    s = pd.Series(payloads, dtype=object)
    cases = {
        "v1_full": lambda: decode_batch(s, None, columns=FULL_COLUMNS),
        "v1_routing": lambda: decode_batch(s, None, columns=ROUTING_ORDERED),
        "ecs_ts": lambda: decode_batch(s, ECS_CONFIG, columns=FULL_COLUMNS),
    }
    return {k: timed_rate(fn, len(s)) for k, fn in cases.items()}


def decode(payloads: list[str], config=None) -> pd.DataFrame:
    return decode_batch(pd.Series(payloads, dtype=object), config, columns=FULL_COLUMNS)


def failed_rows(payloads: list[str], config=None) -> int:
    """Rows the decoder marks failed, counted exactly."""
    return int(decode(payloads, config)["error"].notna().sum())


def timestamp_values(relay_texts: list[str]) -> list[tuple[str, str]]:
    """(value, device timezone) for every rt/start/end in the relay lines."""
    out = []
    for line in relay_texts:
        z = _DTZ.search(line)
        for m in _TS_FIELD.finditer(line):
            out.append((m.group(2), z.group(1) if z else None))
    return out


def timestamp_rate(values: list[tuple[str, str]]) -> float:
    norm = TimestampNormalizer(now=gen.RELAY_NOW)

    def run():
        for v, z in values:
            norm.normalize_iso(v, z)
    return timed_rate(run, len(values))


def encode_input(decoded: pd.DataFrame) -> pd.DataFrame:
    """The relay's encoder input, built in-process from a decoded frame."""
    ev = decoded[HEADER_FIELDS].copy()
    ev["conv_id"] = [f"c{i}" for i in range(len(ev))]
    ev["sink_id"] = ev["deviceVendor"].fillna("_") + "/x"
    for col, key in TS_KEYS.items():
        ev[col] = [None if m is None else m.get(key) for m in decoded["extensions"]]
    return ev


def encoder_rate(events: pd.DataFrame) -> float:
    return timed_rate(lambda: encode_batch(events, ENCODER_CONFIG), len(events))
