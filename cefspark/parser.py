r"""Vectorized CEF decode: batches of payload strings -> batches of events.

This is a from-scratch pandas/NumPy implementation of the decode semantics of
the reference codec (/root/reference/lib/logstash/codecs/cef.rb:231-327). It is
pure pandas — testable without Spark — and is wrapped into an Arrow-batched
pandas UDF by :mod:`cefspark.udfs` — the one place a payload crosses from the
engine into Python. The hot path (`decode_batch`) does two C-level regex
calls per row and also takes binary payloads, doing the reference's strict
UTF-8 validation (D4, cef.rb:236-240) itself; `_decode_batch_pandas` is the
sequential, str-only implementation of record, kept for differential testing
against the hot path (mirroring the reference's scanning parser at
cef.rb:253-305).

Grammar constants are behavioral transcriptions of the reference's regexes
(cef.rb:103-140); Python 3.11 `re` supports the possessive/atomic constructs
the reference relies on for backtracking safety. All shorthand classes are
compiled with re.ASCII because Ruby's \w/\s/\S are ASCII-only — without it,
Unicode word chars would form keys and NBSP would split values, silently
diverging from the reference on non-ASCII payloads.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd

from .mappings import HEADER_COLUMNS, PARSE_FAILURE_TAG, Mappings, get_mappings
from . import timestamps as ts_mod

# --- grammar ----------------------------------------------------------------

# A CEF header field: zero or more escaped-pipes, escaped-backslashes, or
# non-pipe characters (cef.rb:103).
_HEADER_FIELD = r"(?:\\\||\\\\|[^|])*?"

# All 7 headers in one anchored, vectorized pass. Each header unit is wrapped
# in an atomic group so a failure in a *later* header cannot backtrack into an
# earlier one and re-split at an escaped pipe — this reproduces the
# reference's finalize-one-header-then-advance scanning loop (cef.rb:253-267)
# as a single regex usable with pandas' vectorized Series.str.extract.
_HEADER_UNIT = r"(?>(" + _HEADER_FIELD + r")\|)"
FULL_HEADER_PATTERN = re.compile(r"\A" + _HEADER_UNIT * 7 + r"(.*)\Z", re.DOTALL)

# Single-header scanner, used only on already-failed rows to report how many
# header fields were found (error-message parity with cef.rb:256).
HEADER_NEXT_FIELD_PATTERN = re.compile(r"(" + _HEADER_FIELD + r")\|")

# Backslash-escaped backslash or pipe, capturing the escaped char (cef.rb:109).
HEADER_ESCAPE_CAPTURE = re.compile(r"\\([\\|])")

# Extension key: word chars, optional dot-joined subkeys, optional [idx],
# followed by '=' (lookahead) (cef.rb:125).
_EXT_KEY = r"(?:\w+(?:\.[^\.=\s\|\\\[\]]+)*(?:\[[0-9]+\])?(?==))"

# Extension value: non-space runs, or whitespace not followed by a key=
# (possessive \s++ prevents catastrophic backtracking, cef.rb:137).
_EXT_VALUE = r"(?:\S|\s++(?!" + _EXT_KEY + r"=))*"

# The next key=value pair, anchored at the cursor (cef.rb:140).
EXT_KV_PATTERN = re.compile(r"(" + _EXT_KEY + r")=(" + _EXT_VALUE + r")\s*", re.ASCII)

# array-like key syntax 'name[0]' -> '[name][0]' (cef.rb:131)
EXT_KEY_ARRAY_CAPTURE = re.compile(r"^([^\[\]]+)((?:\[[0-9]+\])+)$")

# value desanitizer (cef.rb:174-181): \\ -> \, \= -> =, \n -> LF, \r -> CR;
# all other backslash sequences preserved verbatim.
_DESANITIZE_PATTERN = re.compile(r"\\\\|\\=|\\n|\\r")
_DESANITIZE_MAP = {r"\\": "\\", r"\=": "=", r"\n": "\n", r"\r": "\r"}

CEF_PREFIX = "CEF:"

# Ruby String#strip / rstrip remove ASCII whitespace and NUL only
_RUBY_STRIP = "\x00\t\n\x0b\x0c\r "

# Fast-path probe: an extension block with only "simple" pairs — keys that are
# plain \w+, values with no backslash escapes — can be tokenized with one
# vectorized findall instead of the cursor loop. (Optimization only; the
# cursor loop below is the semantics of record.)
_SIMPLE_BLOCK = re.compile(r"\A\w+=(?:[^\s\\=]*)(?:\s+\w+=(?:[^\s\\=]*))*\s*\Z", re.ASCII)
_SIMPLE_PAIR = re.compile(r"(\w+)=([^\s=\\]*)", re.ASCII)

# --- hot path: two C-level regex calls per row ---------------------------------
# Python 3.11's stdlib `re` supports the atomic/possessive constructs the
# grammar needs, and benches ~40% faster than the `regex` module here. Call 1
# (_FAST_FULL.fullmatch) does the 7-header split AND validates that the whole
# extension region is a contiguous key=value sequence (the keyless-tail
# check); call 2 (_FAST_KV.findall from the end of the 7th header) extracts
# the pairs. findall re-derives the same boundaries the sequential scanner
# would: validation proved the region is `\s* (KEY=VALUE \s*)*`, the VALUE
# pattern is possessive (deterministic at each start position), and inter-pair
# gaps are whitespace-only — pinned by the differential fuzz suite against the
# sequential slow path below, which remains the semantics of record.
_EXT_VALUE_POSSESSIVE = r"(?:\S|\s++(?!" + _EXT_KEY + r"=))*+"
# leading separator includes NUL: Ruby's message.strip (cef.rb:285) removes
# "\0" too, so NULs before the first pair are stripped; NULs *between* pairs
# are not \s in Ruby either and must still fail as keyless content.
_FAST_FULL = re.compile(
    r"\A" + _HEADER_UNIT * 7
    + r"(?:\s|\x00)*+(?:" + _EXT_KEY + r"=" + _EXT_VALUE_POSSESSIVE + r"\s*+)*+\Z",
    re.DOTALL | re.ASCII)
_FAST_KV = re.compile(r"(" + _EXT_KEY + r")=(" + _EXT_VALUE_POSSESSIVE + r")", re.ASCII)


@dataclass
class DecodeConfig:
    """Decode-side configuration (subset of the reference's plugin config)."""

    ecs_mode: bool = False
    device: str = "observer"
    raw_data_field: Optional[str] = None
    default_timezone: Optional[str] = None
    locale: Optional[str] = None
    # Injected "now" for yearless-timestamp inference (epoch seconds or
    # ISO8601). Injected for determinism, like the spec's fixed Clock
    # (timestamp_normalizer_spec.rb:139-146). None -> wall clock at call time.
    now: Optional[str] = None

    def mappings(self) -> Mappings:
        return get_mappings(self.ecs_mode, False, self.device)


#: decoded-event frame columns (beyond pass-through input columns); the one
#: list of them — udfs.DECODED_STRUCT takes its field names and order from it
DECODED_COLUMNS = [*HEADER_COLUMNS, "syslog", "extensions", "message", "tags", "error"]

#: D4 failure reason for a binary payload that is not valid UTF-8 (cef.rb:236-240)
INVALID_UTF8_ERROR = "invalid byte sequence in UTF-8"


def _count_headers(data: str) -> tuple[int, int]:
    """How many pipe-terminated headers exist (up to 7), and where the last
    one ends — failure-message parity (cef.rb:253-257)."""
    n, pos = 0, 0
    while n < 7:
        m = HEADER_NEXT_FIELD_PATTERN.search(data, pos)
        if m is None:
            break
        pos = m.end()
        n += 1
    return n, pos


def parse_extension_block(message: str) -> tuple[Optional[dict], Optional[str]]:
    """Tokenize the extension key=value block (cef.rb:284-305).

    Returns (pairs, error). ``pairs`` preserves raw keys and raw (still
    sanitized) values; expansion/desanitization happen in the caller so this
    function stays reusable for diagnostics.
    """
    pairs: dict[str, str] = {}
    if _SIMPLE_BLOCK.match(message):
        for m in _SIMPLE_PAIR.finditer(message):
            pairs[m.group(1)] = m.group(2)
        return pairs, None
    pos, n = 0, len(message)
    while pos < n:
        m = EXT_KV_PATTERN.match(message, pos)
        if m is None:
            break
        pairs[m.group(1)] = m.group(2)
        pos = m.end()
    if pos < n:
        return None, f"invalid extensions; keyless value present `{message[pos:]}`"
    return pairs, None


def desanitize_extension_val(value: str) -> str:
    return _DESANITIZE_PATTERN.sub(lambda m: _DESANITIZE_MAP[m.group(0)], value)


def _classify_failure(s: str) -> str:
    """Diagnose why a payload failed (slow path, failed rows only)."""
    cnt, pos = _count_headers(s)
    if cnt < 7:
        return f"message is not valid CEF; found {cnt} of 7 required pipe-terminated header fields"
    msg = s[pos:].strip(_RUBY_STRIP)
    if msg:
        _, err = parse_extension_block(msg)
        if err is not None:
            return err
    return "unparseable payload"


def decode_batch(texts: pd.Series, config: Optional[DecodeConfig] = None,
                 columns: Optional[list] = None) -> pd.DataFrame:
    """Decode a batch of CEF payload strings into an event frame.

    ``texts`` holds ``str`` payloads; ``bytes``/``bytearray`` payloads are
    decoded as strict UTF-8 first (D4, cef.rb:236-240), and an invalid byte
    sequence fails the row with ``INVALID_UTF8_ERROR``, its ``message`` the
    replacement-char rendering of the bytes; any other value is a
    ``"null payload"`` failure.

    Output columns: the 7 header fields (physical long names), ``syslog``,
    ``extensions`` (dict of canonical-field-name -> string value, None on
    failure), ``message`` + ``tags`` (populated only on parse failure —
    error-as-data, the Spark rendition of the reference's rescue at
    cef.rb:323-327), and ``error`` (diagnostic reason string).

    ``columns`` optionally names the output columns the caller will consume
    (the UDF-level ``columns=`` projection): when ``extensions`` is not
    among them and no ECS normalizer is configured, the per-row KV
    tokenization + dict build is skipped outright (r7, guide §4.2) — the
    header fullmatch already validated the extension-block grammar, and
    without a normalizer the extension content cannot influence any other
    output column (error/tags/message fire on grammar alone). With
    ``ecs_mode`` the KV pass always runs: a bad timestamp must still flip
    the row to a failure event.

    This is the hot path: one possessive mega-regex fullmatch per row.
    """
    cfg = config or DecodeConfig()
    maps = cfg.mappings()
    decode_map = maps.decode_map
    ts_fields = maps.timestamp_fields
    tz_field = maps.device_timezone_field
    normalizer = ts_mod.TimestampNormalizer(
        locale=cfg.locale, timezone=cfg.default_timezone, now=cfg.now
    ) if cfg.ecs_mode else None

    idx = texts.index
    arr = texts.to_numpy(dtype=object, copy=False)
    n = len(arr)
    cols = {c: np.empty(n, dtype=object) for c in DECODED_COLUMNS}
    if cfg.raw_data_field:
        cols[cfg.raw_data_field] = np.empty(n, dtype=object)

    fullmatch = _FAST_FULL.fullmatch
    kv_findall = _FAST_KV.findall
    hdr_sub = HEADER_ESCAPE_CAPTURE.sub
    arr_sub = EXT_KEY_ARRAY_CAPTURE.sub
    desan_sub = _DESANITIZE_PATTERN.sub
    desan_map = _DESANITIZE_MAP
    dmap_get = decode_map.get
    # KV pass elidable: caller doesn't consume `extensions` and no
    # normalizer can turn extension content into a row failure
    parse_ext = (normalizer is not None or columns is None
                 or "extensions" in columns)
    # column arrays hoisted out of the loop (r7, guide §4.2: per-row dict
    # lookups were ~10% of the loop body), in DECODED_COLUMNS order
    (c_ver, c_vendor, c_prod, c_dver, c_cls, c_name, c_sev, c_syslog,
     c_ext, c_msg, c_tags, c_err) = [cols[c] for c in DECODED_COLUMNS]
    c_raw = cols[cfg.raw_data_field] if cfg.raw_data_field else None

    for i in range(n):
        raw = arr[i]
        err = None
        if not isinstance(raw, str):
            if isinstance(raw, (bytes, bytearray)):
                # D4 strict UTF-8 (cef.rb:236-240): the decoded str goes on
                # as the payload; invalid bytes fail early, before the quote
                # strip, carrying their replacement-char rendering
                try:
                    raw = raw.decode("utf-8")
                except UnicodeDecodeError:
                    err = INVALID_UTF8_ERROR
                    failure_payload = raw.decode("utf-8", "replace")
            else:
                err = "null payload"
                failure_payload = None
        if err is None:
            s = raw
            # D5 quote strip (cef.rb:243-245), D6 chomp + newline guard (cef.rb:248-252)
            if s[:1] == '"':
                s = s[1:-1]
            # the reference's failure event carries the quote-stripped `data`
            # (rescue at cef.rb:326 yields the reassigned local), not the
            # original bytes — chomp/strip happen on a separate variable.
            failure_payload = s
            last = s[-1:]
            if last == "\n":
                s = s[:-2] if s[-2:-1] == "\r" else s[:-1]
            elif last == "\r":
                s = s[:-1]
            if "\n" in s:
                err = ("message is not valid CEF because it contains unescaped newline characters; "
                       "use the `delimiter` setting to enable in-codec buffering and delimiter-splitting")
        if err is None:
            s = s.rstrip(_RUBY_STRIP)  # mirrors message.strip (cef.rb:285), ASCII-only
            m = fullmatch(s)
            if m is None:
                err = _classify_failure(s)
            else:
                # one backslash scan gates every unescape path (headers D8
                # and values D14): escape-free payloads — the overwhelming
                # case — skip all per-field checks
                has_bs = "\\" in s
                h = m.groups()
                if has_bs:
                    h = [hdr_sub(r"\1", g) if "\\" in g else g for g in h]
                v0 = h[0]
                if " " in v0:  # D9 syslog prelude (cef.rb:272-278)
                    syslog, _, v0 = v0.rpartition(" ")
                    c_syslog[i] = syslog
                if v0.startswith(CEF_PREFIX):  # D10 (cef.rb:281)
                    v0 = v0[4:]
                c_ver[i] = v0
                c_vendor[i] = h[1]
                c_prod[i] = h[2]
                c_dver[i] = h[3]
                c_cls[i] = h[4]
                c_name[i] = h[5]
                c_sev[i] = h[6]
                fields: dict = {}
                if parse_ext:
                    # D12/D13 fusion: map-expanded keys skip the D13 regex —
                    # every decode_map value is an arr_sub fixed point
                    # (ECS refs like `[source][ip]` start with '[' so the
                    # ^([^\[\]]+) anchor can't match; v1 long names carry no
                    # ']' at all — pinned by test_mappings), so the rewrite
                    # only ever applies to raw (unmapped) keys like `f[0]`.
                    # In ECS mode ~all keys are mapped and END with ']', so
                    # the old unconditional check paid one no-op regex sub
                    # per mapped key per row (~2 µs/row measured, guide §4.2).
                    if has_bs:
                        for k, v in kv_findall(s, m.end(7)):
                            k2 = dmap_get(k)  # D12 key expansion (cef.rb:293)
                            if k2 is None:
                                k2 = k
                                if k2[-1:] == "]":  # D13 rewrite (cef.rb:296)
                                    k2 = arr_sub(r"[\1]\2", k2)
                            if "\\" in v:  # D14 desanitize (cef.rb:299)
                                v = desan_sub(lambda mm: desan_map[mm.group(0)], v)
                            fields[k2] = v
                    else:
                        for k, v in kv_findall(s, m.end(7)):
                            k2 = dmap_get(k)  # D12 key expansion (cef.rb:293)
                            if k2 is None:
                                k2 = k
                                if k2[-1:] == "]":  # D13 rewrite (cef.rb:296)
                                    k2 = arr_sub(r"[\1]\2", k2)
                            fields[k2] = v
                if normalizer is not None and fields:
                    # D15 ECS timestamp normalization (cef.rb:307-315)
                    device_tz = fields.get(tz_field)
                    try:
                        for tf in ts_fields:
                            if tf not in fields:
                                continue
                            raw_ts = fields.pop(tf)
                            if raw_ts is None or not raw_ts.strip(_RUBY_STRIP):
                                fields[tf] = None
                            else:
                                fields[tf] = normalizer.normalize_iso(raw_ts, device_tz)
                    except ts_mod.InvalidTimestamp as e:
                        err = str(e)
                if err is None:
                    c_ext[i] = fields
                    if c_raw is not None:
                        c_raw[i] = raw  # D3 (cef.rb:234)
        if err is not None:
            # D17 failure fallback (cef.rb:323-327): wipe partial decode state
            c_ver[i] = None; c_vendor[i] = None; c_prod[i] = None  # noqa: E702
            c_dver[i] = None; c_cls[i] = None; c_name[i] = None  # noqa: E702
            c_sev[i] = None; c_syslog[i] = None; c_ext[i] = None  # noqa: E702
            if c_raw is not None:
                c_raw[i] = None
            c_msg[i] = failure_payload
            c_tags[i] = [PARSE_FAILURE_TAG]
            c_err[i] = err

    return pd.DataFrame({c: pd.Series(v, index=idx, dtype=object) for c, v in cols.items()})


def _decode_batch_pandas(texts: pd.Series, config: Optional[DecodeConfig] = None) -> pd.DataFrame:
    """Sequential implementation of record (pandas-vectorized passes + the
    cursor tokenizer that mirrors the reference loop statement-for-statement).
    Not on the hot path: retained as the differential-testing baseline the
    fast path is fuzzed against."""
    cfg = config or DecodeConfig()
    maps = cfg.mappings()
    decode_map = maps.decode_map
    ts_fields = maps.timestamp_fields
    tz_field = maps.device_timezone_field
    normalizer = ts_mod.TimestampNormalizer(
        locale=cfg.locale, timezone=cfg.default_timezone, now=cfg.now
    ) if cfg.ecs_mode else None

    idx = texts.index
    raw = texts.astype(object)
    n = len(raw)

    # error-as-data bookkeeping
    error = pd.Series([None] * n, index=idx, dtype=object)

    s = raw.copy()
    null_mask = s.isna()
    s[null_mask] = ""
    s = s.astype(str)

    # D5: quote strip — if payload starts with '"', drop first AND last char
    # (Ruby data[1..-2], cef.rb:243-245).
    qmask = s.str.startswith('"')
    if qmask.any():
        s[qmask] = s[qmask].str.slice(1, -1)
    # failure events carry the quote-stripped (pre-chomp) payload (cef.rb:326)
    failure_payload = s.copy()
    failure_payload[null_mask] = None

    # D6: chomp one trailing newline, then reject embedded newlines (cef.rb:248-252)
    s = s.str.replace(r"(?:\r\n|\n|\r)\Z", "", n=1, regex=True)
    nl_mask = s.str.contains("\n", regex=False) | null_mask
    error[s.str.contains("\n", regex=False)] = (
        "message is not valid CEF because it contains unescaped newline characters; "
        "use the `delimiter` setting to enable in-codec buffering and delimiter-splitting"
    )
    error[null_mask] = "null payload"

    # D7: all 7 headers + remainder in one vectorized extract
    parts = s.str.extract(FULL_HEADER_PATTERN)
    header_fail = parts[0].isna() & ~nl_mask
    if header_fail.any():
        counts = s[header_fail].map(lambda t: _count_headers(t)[0])
        error[header_fail] = counts.map(
            lambda c: f"message is not valid CEF; found {c} of 7 required pipe-terminated header fields"
        )

    # D8: unescape \\| and \\\\ in each header (cef.rb:263)
    headers = {}
    for i, col in enumerate(
        ["cefVersion", "deviceVendor", "deviceProduct", "deviceVersion",
         "deviceEventClassId", "name", "severity"]
    ):
        headers[col] = parts[i].str.replace(HEADER_ESCAPE_CAPTURE, r"\1", regex=True)

    # D9: syslog prelude split on the version header (cef.rb:272-278)
    ver = headers["cefVersion"]
    smask = ver.str.contains(" ", regex=False).eq(True)
    syslog = pd.Series([None] * n, index=idx, dtype=object)
    if smask.any():
        rp = ver[smask].str.rpartition(" ")
        syslog[smask] = rp[0]
        ver = ver.copy()
        ver[smask] = rp[2]
    # D10: strip CEF: prefix (cef.rb:281)
    headers["cefVersion"] = ver.str.replace(r"\ACEF:", "", n=1, regex=True)

    # D11-D16: extension tokenize + key expansion + desanitize + ECS timestamps
    remainder = parts[7]
    extensions = pd.Series([None] * n, index=idx, dtype=object)
    ok_mask = error.isna()

    rem_vals = remainder.to_numpy(dtype=object)
    err_vals = error.to_numpy(dtype=object)
    ext_vals = extensions.to_numpy(dtype=object)
    ok_vals = ok_mask.to_numpy()

    for i in range(n):
        if not ok_vals[i]:
            continue
        msg = rem_vals[i]
        fields: dict[str, Optional[str]] = {}
        if msg:
            msg = msg.strip(_RUBY_STRIP)
            if msg:
                pairs, err = parse_extension_block(msg)
                if err is not None:
                    err_vals[i] = err
                    continue
                for key, raw_val in pairs.items():
                    # D12: abbreviated-key expansion (cef.rb:293)
                    key = decode_map.get(key, key)
                    # D13: array-like key -> strict field reference (cef.rb:296)
                    if key.endswith("]"):
                        key = EXT_KEY_ARRAY_CAPTURE.sub(r"[\1]\2", key)
                    # D14: value desanitize (cef.rb:299)
                    fields[key] = desanitize_extension_val(raw_val)
                if normalizer is not None:
                    # D15: ECS timestamp normalization (cef.rb:307-315)
                    device_tz = fields.get(tz_field)
                    try:
                        for tf in ts_fields:
                            if tf not in fields:
                                continue
                            raw_ts = fields.pop(tf)
                            if raw_ts is None or not str(raw_ts).strip(_RUBY_STRIP):
                                fields[tf] = None
                                continue
                            fields[tf] = normalizer.normalize_iso(raw_ts, device_tz)
                    except ts_mod.InvalidTimestamp as e:
                        err_vals[i] = str(e)
                        continue
        ext_vals[i] = fields

    error = pd.Series(err_vals, index=idx, dtype=object)
    extensions = pd.Series(ext_vals, index=idx, dtype=object)
    failed = error.notna()

    out = pd.DataFrame(index=idx)
    for col, series in headers.items():
        series = series.copy()
        series[failed] = None
        out[col] = series
    syslog[failed] = None
    out["syslog"] = syslog
    extensions[failed] = None
    out["extensions"] = extensions
    # D17: failure fallback event carries the quote-stripped payload + tag (cef.rb:326)
    message = pd.Series([None] * n, index=idx, dtype=object)
    message[failed] = failure_payload[failed]
    out["message"] = message
    tag_vals = np.empty(n, dtype=object)
    fv = failed.to_numpy()
    for i in range(n):
        tag_vals[i] = [PARSE_FAILURE_TAG] if fv[i] else None
    out["tags"] = pd.Series(tag_vals, index=idx, dtype=object)
    out["error"] = error
    if cfg.raw_data_field:
        # D3: raw-data capture (cef.rb:234); set pre-parse, so kept on success
        # rows only (the reference's failure event is a fresh event without it).
        rawcol = raw.copy()
        rawcol[failed] = None
        out[cfg.raw_data_field] = rawcol
    return out


def decode_one(text: str, config: Optional[DecodeConfig] = None) -> dict:
    """Decode a single payload (test convenience). Extension fields are
    flattened into the returned dict alongside headers, like event.get()."""
    row = decode_batch(pd.Series([text]), config).iloc[0]
    out = {k: row[k] for k in row.index if k != "extensions"}
    if row["extensions"] is not None:
        out.update(row["extensions"])
    return out
