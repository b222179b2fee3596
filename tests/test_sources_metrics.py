"""Raw-stream framing (D1), binary/UTF-8 ingest (D4) and transcript
sources."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cefspark import fixtures, sources
from cefspark.udfs import decode_dataframe

CANON = ("CEF:0|security|threatmanager|1.0|100|"
         "trojan successfully stopped|10|src=10.0.0.192 spt=1232")


def test_read_raw_lines_custom_delimiter(spark, tmp_path):
    # the reference's delimiter buffering (cef.rb:211-222) as scan framing
    raw = (tmp_path / "events.log")
    raw.write_bytes((CANON + "\r\n" + CANON + "\r\n" + "garbage" + "\r\n").encode())
    df = sources.read_raw_lines(spark, str(raw), delimiter="\\r\\n")
    assert df.count() == 3  # trailing delimiter -> no empty frame
    dec = decode_dataframe(df)
    assert dec.where(F.col("error").isNull()).count() == 2
    assert dec.where(F.col("error").isNotNull()).count() == 1


def test_read_raw_lines_default_newline(spark, tmp_path):
    raw = (tmp_path / "plain.log")
    raw.write_text(CANON + "\n" + CANON + "\n")
    assert sources.read_raw_lines(spark, str(raw)).count() == 2


def test_binary_ingest_valid_and_invalid_utf8(spark):
    # cef_spec.rb:973-1009: UTF-8 higher-plane survives; non-UTF-8 fails early
    utf8_payload = ("CEF:0|security|threatmanager|1.0|100|trojan successfully stopped|10|"
                    "target=aaaaaああああaaaa").encode("utf-8")
    sjis_payload = ("CEF:0|security|threatmanager|1.0|100|trojan successfully stopped|10|"
                    "msg=こんにちは").encode("shift_jis")
    df = spark.createDataFrame([(1, utf8_payload), (2, sjis_payload), (3, None)],
                               "id int, payload binary")
    out = {r["id"]: r for r in sources.decode_binary_dataframe(df).collect()}
    assert out[1]["error"] is None
    assert out[1]["extensions"]["target"] == "aaaaaああああaaaa"
    assert out[2]["tags"] == ["_cefparsefailure"]
    assert out[2]["error"] == "invalid byte sequence in UTF-8"
    assert out[2]["message"] is not None  # replacement-char rendering kept
    assert out[3]["error"] == "null payload"


def test_binary_ingest_keeps_raw_data_field(spark):
    # D3 raw capture rides the binary path too: the decoded str on success
    from cefspark.parser import DecodeConfig

    df = spark.createDataFrame([(1, CANON.encode()), (2, b"\xffbad")],
                               "id int, payload binary")
    dec = sources.decode_binary_dataframe(df, config=DecodeConfig(raw_data_field="raw"))
    assert dec.columns[-2:] == ["raw", "message_bytes"]
    out = {r["id"]: r for r in dec.collect()}
    assert out[1]["raw"] == CANON and out[1]["error"] is None
    assert out[2]["raw"] is None and out[2]["message_bytes"] == b"\xffbad"


def test_binary_ingest_renames_colliding_input_columns(spark):
    # input columns named like decoded fields survive as _src_<name>, the
    # payload column among them, as decode_dataframe does for text
    df = spark.createDataFrame([(1, "low", CANON.encode()), (2, "high", b'"\xff"')],
                               "id int, severity string, message binary")
    dec = sources.decode_binary_dataframe(df, bytes_col="message")
    assert dec.columns[:3] == ["id", "_src_severity", "_src_message"]
    assert dec.columns[-1] == "message_bytes"
    out = {r["id"]: r for r in dec.collect()}
    assert (out[1]["_src_severity"], out[1]["severity"]) == ("low", "10")
    assert out[1]["message"] is None and out[1]["message_bytes"] is None
    assert out[2]["error"] == "invalid byte sequence in UTF-8"
    assert out[2]["message"] == '"\ufffd"'
    assert out[2]["message_bytes"] == b'"\xff"' == out[2]["_src_message"]


def test_read_raw_lines_over_multi_file_directory(spark, tmp_path):
    # distributed framing: each part file is an independent byte stream;
    # frames never span files, and the union covers every frame exactly once
    d = tmp_path / "rawdir"
    d.mkdir()
    (d / "part-0.log").write_text("a1\r\nb1\r\n")
    (d / "part-1.log").write_text("c2\r\nd2")
    df = sources.read_raw_lines(spark, str(d), delimiter="\\r\\n")
    assert sorted(r["text"] for r in df.collect()) == ["a1", "b1", "c2", "d2"]


def test_jsonl_and_csv_transcript_sources_roundtrip(spark, tmp_path):
    """JSONL and CSV ingestion produce the SAME decoded pipeline results as
    the parquet path on identical transcripts; malformed records land in
    _corrupt_record instead of failing the batch."""
    import json as _json

    from pyspark.sql import functions as F

    from cefspark import fixtures, sources
    from cefspark.udfs import decode_dataframe

    pdf = fixtures.transcripts_pdf(200)
    ref = decode_dataframe(spark.createDataFrame(pdf))
    ref_counts = {r["deviceVendor"]: r["n"] for r in
                  ref.groupBy("deviceVendor").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}

    jl = tmp_path / "t.jsonl"
    with open(jl, "w") as f:
        for _, r in pdf.iterrows():
            f.write(_json.dumps({
                "conv_id": r["conv_id"], "turn_idx": int(r["turn_idx"]),
                "role": r["role"], "text": r["text"], "tool": r["tool"],
                "ts": r["ts"].strftime("%Y-%m-%dT%H:%M:%S")}) + "\n")
        f.write("{ not valid json\n")
    # Spark disallows queries touching ONLY the corrupt-record column on a
    # raw json scan; cache first (the documented pattern)
    jdf = sources.read_transcripts_jsonl(spark, str(jl)).cache()
    bad = jdf.where(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    good = jdf.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    got = {r["deviceVendor"]: r["n"] for r in
           decode_dataframe(good).groupBy("deviceVendor")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == ref_counts
    assert dict(good.dtypes)["ts"] == "timestamp"

    cv = tmp_path / "t.csv"
    with open(cv, "w") as f:
        f.write("conv_id,turn_idx,role,text,tool,ts\n")
        for _, r in pdf.iterrows():
            text = '"' + str(r["text"]).replace('"', '""') + '"'
            f.write(f'{r["conv_id"]},{int(r["turn_idx"])},{r["role"]},{text},'
                    f'{r["tool"] or ""},{r["ts"].strftime("%Y-%m-%d %H:%M:%S")}\n')
    cdf = sources.read_transcripts_csv(spark, str(cv))
    goodc = cdf.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    gotc = {r["deviceVendor"]: r["n"] for r in
            decode_dataframe(goodc).groupBy("deviceVendor")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert gotc == ref_counts  # CSV quoting survives commas/quotes in payloads
    jdf.unpersist()


# ==============================================================================
# Multiline event assembly (logstash multiline codec semantics)
# ==============================================================================

def _lines_df(spark, rows):
    return spark.createDataFrame(
        [(s, i, t) for (s, i, t) in rows], "source string, line_no long, line string")


def test_multiline_previous_stack_traces(spark):
    """what=previous, pattern='^\\s': indented lines join the previous
    event — the canonical stack-trace shape, hand-computed."""
    from cefspark.multiline import assemble_multiline

    rows = [
        ("a", 10, "ERROR boom"),
        ("a", 11, "  at Foo.bar"),
        ("a", 12, "\tat Baz.qux"),
        ("a", 13, "INFO fine"),
        ("a", 14, "WARN hmm"),
        ("a", 15, "  detail"),
        ("b", 1, "  orphan continuation"),   # source starts mid-event
        ("b", 2, "OK line"),
    ]
    out = assemble_multiline(_lines_df(spark, rows), r"^\s")
    got = {(r["source"], r["first_line_no"]): (r["n_lines"], r["text"])
           for r in out.collect()}
    assert got == {
        ("a", 10): (3, "ERROR boom\n  at Foo.bar\n\tat Baz.qux"),
        ("a", 13): (1, "INFO fine"),
        ("a", 14): (2, "WARN hmm\n  detail"),
        ("b", 1): (1, "  orphan continuation"),
        ("b", 2): (1, "OK line"),
    }


def test_multiline_next_backslash_continuation(spark):
    """what=next, pattern='\\\\$': a line ending in backslash joins the
    FOLLOWING line's event."""
    from cefspark.multiline import assemble_multiline

    rows = [
        ("a", 1, "cmd one \\"),
        ("a", 2, "--flag \\"),
        ("a", 3, "tail"),
        ("a", 4, "solo"),
        ("a", 5, "dangling \\"),   # joins forward but no successor: own event
    ]
    out = assemble_multiline(_lines_df(spark, rows), r"\\$", what="next")
    got = {r["first_line_no"]: r["text"] for r in out.collect()}
    assert got == {1: "cmd one \\\n--flag \\\ntail", 4: "solo",
                   5: "dangling \\"}


def test_multiline_negate_timestamp_starts(spark):
    """negate=true + what=previous: lines NOT matching the start pattern
    join backward — the 'every event starts with a timestamp' shape."""
    from cefspark.multiline import assemble_multiline

    rows = [
        ("a", 1, "2026-01-01 ok"),
        ("a", 2, "continuation"),
        ("a", 3, "more"),
        ("a", 4, "2026-01-02 next"),
    ]
    out = assemble_multiline(_lines_df(spark, rows), r"^\d{4}-", negate=True)
    got = {r["first_line_no"]: (r["n_lines"], r["text"]) for r in out.collect()}
    assert got == {1: (3, "2026-01-01 ok\ncontinuation\nmore"),
                   4: (1, "2026-01-02 next")}


def test_multiline_max_lines_chunking_and_tag(spark):
    """max_lines: an oversized logical event flushes in max_lines-sized
    chunks; full chunks are tagged, the final partial chunk is not."""
    from cefspark.multiline import MAX_LINES_TAG, assemble_multiline

    rows = [("a", 0, "START")] + [("a", i, f"  c{i}") for i in range(1, 8)] \
        + [("a", 100, "NEXT")]
    out = assemble_multiline(_lines_df(spark, rows), r"^\s", max_lines=3)
    got = sorted((r["first_line_no"], r["n_lines"], tuple(r["tags"]), r["text"])
                 for r in out.collect())
    assert got == [
        (0, 3, (MAX_LINES_TAG,), "START\n  c1\n  c2"),
        (3, 3, (MAX_LINES_TAG,), "  c3\n  c4\n  c5"),
        (6, 2, (), "  c6\n  c7"),
        (100, 1, (), "NEXT"),
    ]


def test_multiline_framing_composition(spark, tmp_path):
    """End-to-end: raw byte stream -> read_raw_lines framing ->
    assemble_multiline -> decode_dataframe. Continuation lines carry the
    extension block of a CEF event split across physical lines."""
    from cefspark.multiline import assemble_multiline

    payload = ("CEF:0|v|p|1|sig|name|5|src=10.0.0.1\n"
               " spt=1232\n"
               "CEF:0|v|p|1|sig|name|3|src=10.0.0.2\n"
               "garbage standalone\n")
    p = tmp_path / "stream.log"
    p.write_text(payload)
    lines = sources.read_raw_lines(spark, str(p)).select(
        F.lit("s").alias("source"),
        F.monotonically_increasing_id().alias("line_no"),
        F.col("text").alias("line"))
    # single input file => one partition => monotonic ids follow file order
    events = assemble_multiline(lines, r"^\s", sep=" ")
    dec = decode_dataframe(events)
    got = {r["first_line_no"]: (r["severity"], r["extensions"], r["error"] is None)
           for r in dec.select("first_line_no", "severity", "extensions",
                               "error").collect()}
    assert got[0] == ("5", {"sourceAddress": "10.0.0.1", "sourcePort": "1232"},
                      True)
    assert got[2] == ("3", {"sourceAddress": "10.0.0.2"}, True)
    assert got[3][2] is False  # garbage still fails downstream, per-event


def test_orc_source_sink_roundtrip(spark, tmp_path):
    """ORC interchange: write_transcripts_orc -> read_transcripts_orc is
    lossless (schema pinned, zstd at rest), and a reordered/extra-column
    ORC file still reads back in the pinned shape."""
    t = fixtures.transcripts_df(spark, 300)
    p = str(tmp_path / "orc")
    sources.write_transcripts_orc(t, p)
    back = sources.read_transcripts_orc(spark, p)
    assert back.schema == t.schema
    key = ["conv_id", "turn_idx"]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, t.collect()))

    # reordered columns + an extra column: explicit schema projects by name
    p2 = str(tmp_path / "orc2")
    (t.select("ts", "text", F.lit("x").alias("extra"), "tool", "role",
              "turn_idx", "conv_id").write.orc(p2))
    back2 = sources.read_transcripts_orc(spark, p2)
    assert back2.columns == t.columns
    assert back2.count() == 300
    assert back2.where(F.col("conv_id").isNull()).count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


def _simulate_multiline(per_source, negate, what, max_lines):
    """Pure-Python reference: the codec's sequential buffer, literally."""
    out = {}
    for src, bits in per_source.items():
        rows = [(i * 3 + 1, ("J" if b else "N") + f"{src}l{i}", b ^ negate)
                for i, b in enumerate(bits)]
        groups = {}
        ev = 0
        for no, txt, joins in rows:
            if what == "previous":
                if not joins:
                    ev += 1
                groups.setdefault(ev, []).append((no, txt))
            else:
                # a line opens a new event iff its predecessor declined
                # to join forward
                groups.setdefault(ev + 1, []).append((no, txt))
                if not joins:
                    ev += 1
        for lines in groups.values():
            chunks = ([lines[i:i + max_lines]
                       for i in range(0, len(lines), max_lines)]
                      if max_lines else [lines])
            for c in chunks:
                tagged = bool(max_lines) and len(c) >= max_lines
                out[(src, c[0][0])] = (len(c), "\n".join(t for _, t in c),
                                       tagged)
    return out


@settings(max_examples=25, deadline=None)
@given(per_source=st.dictionaries(
           st.sampled_from(["a", "b", "c"]),
           st.lists(st.booleans(), min_size=1, max_size=12),
           min_size=1, max_size=3),
       negate=st.booleans(),
       what=st.sampled_from(["previous", "next"]),
       max_lines=st.sampled_from([None, 1, 2, 3]))
def test_multiline_matches_sequential_reference(spark, per_source, negate,
                                                what, max_lines):
    """Property: the window-arithmetic assembly equals the literal
    sequential buffer for every (joins-bits, negate, what, max_lines)
    combination, across sources."""
    from cefspark.multiline import MAX_LINES_TAG, assemble_multiline

    rows = [(src, i * 3 + 1, ("J" if b else "N") + f"{src}l{i}")
            for src, bits in per_source.items() for i, b in enumerate(bits)]
    df = _lines_df(spark, rows)
    out = assemble_multiline(df, r"^J", negate=negate, what=what,
                             max_lines=max_lines)
    got = {(r["source"], r["first_line_no"]):
           (r["n_lines"], r["text"],
            bool(max_lines) and MAX_LINES_TAG in (r["tags"] or []))
           for r in out.collect()}
    assert got == _simulate_multiline(per_source, negate, what, max_lines)


def test_orc_missing_columns_raise(spark, tmp_path):
    """An ORC source missing pinned transcript columns must raise (Spark
    itself would silently NULL-fill them)."""
    p = str(tmp_path / "orc_bad")
    spark.range(3).select(F.lit("c").alias("conv_id"),
                          F.col("id").cast("int").alias("turn_idx")).write.orc(p)
    with pytest.raises(ValueError, match="missing transcript column"):
        sources.read_transcripts_orc(spark, p)


def test_multiline_null_lines_are_non_matching(spark):
    """A NULL line counts as non-matching (starts its own event under
    what=previous) and renders as '' in reassembled text."""
    from cefspark.multiline import assemble_multiline

    rows = [("a", 1, "HEAD"), ("a", 2, None), ("a", 3, "  cont")]
    df = spark.createDataFrame(rows, "source string, line_no long, line string")
    out = {r["first_line_no"]: (r["n_lines"], r["text"])
           for r in assemble_multiline(df, r"^\s").collect()}
    assert out == {1: (1, "HEAD"), 2: (2, "\n  cont")}
