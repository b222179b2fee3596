"""Differential testing: the mega-regex fast path must agree with the
pandas/cursor reference implementation on every payload — corpus, fixtures,
and fuzzed inputs."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cefspark import fixtures
from cefspark.parser import (INVALID_UTF8_ERROR, DecodeConfig, _decode_batch_pandas,
                             decode_batch)

ECS_CONFIG = DecodeConfig(ecs_mode=True, now="2026-08-16T00:00:00Z")

EDGE_PAYLOADS = [
    "", "|", "|||||||", "CEF:0|a|b|c|d|e|f|", '"quoted"', '"',
    "CEF:0|a|b|c|d|e|f|k=v ", "CEF:0|a|b|c|d|e|f| k=v",
    "CEF:0|a|b|c|d|e|f|k=v  j=w\t", "CEF:0|a|b|c|d|e|f|k=",
    "CEF:0|a|b|c|d|e|f|k==v", "CEF:0|a|b|c|d|e|f|=v",
    "CEF:0|a|b|c|d|e|f|k=a\\=b \\junk", "a\\|b|c|d|e|f|g|h|k=v",
    "CEF:0|a|b|c|d|e|f|tail no pairs", "CEF:0|a|b|c|d|e|f|k=v trailing junk=",
    "x" * 5000, "CEF:0|" + "\\\\" * 50 + "|b|c|d|e|f|k=v",
    None, "CEF:0|a|b|c|d|e|f|k=v\nmore",
]


def assert_same(payloads, cfg=None):
    s = pd.Series(list(payloads))
    fast = decode_batch(s, cfg)
    slow = _decode_batch_pandas(s, cfg)
    for col in ["cefVersion", "deviceVendor", "deviceProduct", "deviceVersion",
                "deviceEventClassId", "name", "severity", "syslog",
                "extensions", "message", "tags"]:
        f, g = list(fast[col]), list(slow[col])
        assert f == g, (col, [(a, b, p) for a, b, p in zip(f, g, payloads) if a != b][:3])


def test_corpus_fixtures_agree():
    pdf = fixtures.transcripts_pdf(3000)
    assert_same(list(pdf["text"]))


def test_corpus_fixtures_agree_ecs():
    pdf = fixtures.transcripts_pdf(1500)
    assert_same(list(pdf["text"]), ECS_CONFIG)


def test_edge_payloads_agree():
    assert_same(EDGE_PAYLOADS)


@pytest.mark.parametrize("cfg", [DecodeConfig(raw_data_field="raw"), ECS_CONFIG],
                         ids=["v1", "ecs"])
def test_utf8_bytes_decode_as_str(cfg):
    """D4 (cef.rb:236-240): a binary payload is decoded as strict UTF-8 and
    then behaves exactly as the same payload given as str; invalid bytes
    fail early with the replacement-char rendering, not quote-stripped."""
    payloads = list(fixtures.transcripts_pdf(500)["text"]) + EDGE_PAYLOADS + [
        "CEF:0|security|threatmanager|1.0|100|n|10|target=aaaaaああああaaaa"]
    as_str = decode_batch(pd.Series(payloads, dtype=object), cfg)
    binary = [None if p is None else (bytes if i % 2 else bytearray)(p.encode())
              for i, p in enumerate(payloads)]
    pd.testing.assert_frame_equal(decode_batch(pd.Series(binary, dtype=object), cfg), as_str)

    bad = [b'"CEF:0|a|b|c|d|e|f|k=v\xff"', b"\xff",
           bytearray("CEF:0|a|b|c|d|e|f|msg=こんにちは".encode("shift_jis"))]
    out = decode_batch(pd.Series(bad, dtype=object), cfg)
    assert list(out["message"]) == [bytes(b).decode("utf-8", "replace") for b in bad]
    assert list(out["message"])[0].startswith('"CEF:0|')
    assert list(out["error"]) == [INVALID_UTF8_ERROR] * 3
    assert list(out["tags"]) == [["_cefparsefailure"]] * 3
    assert out.drop(columns=["message", "tags", "error"]).isna().all().all()


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(list("ab |\\=\t.[]0:\"\n\u00a0\u00e9\u3000\x00\r")), max_size=120))
def test_fuzz_agree(payload):
    assert_same([payload])


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(
    ["k", "key.sub", "k[0]", "a_b", "k2"]), min_size=0, max_size=6),
    st.sampled_from(["v", "v w", "a\\=b", "x\\\\", "", "a=b", "sp  aces"]))
def test_fuzz_kv_agree(keys, val):
    ext = " ".join(f"{k}={val}" for k in keys)
    assert_same([f"CEF:0|v|p|1|s|n|3|{ext}"])
