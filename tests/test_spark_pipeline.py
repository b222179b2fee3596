"""End-to-end Spark tests: decode UDF parity with the pure-pandas parser,
enrich/route/aggregate against pure-Python goldens, salted-write sinks,
and snapshot/resume. (North-rule gates: per-turn decoded-text equality under
stable (conv_id, turn_idx) ordering; routed-row equality; per-sink counts.)"""

import os
import subprocess
import sys
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cefspark import fixtures, pipeline, storage
from cefspark.parser import DecodeConfig, decode_batch
from cefspark.storage import ManifestTable, list_input_files
from cefspark.udfs import decode_dataframe, encode_dataframe, ext

N = 1200


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(fixtures.transcripts_pdf(N)).cache()


@pytest.fixture(scope="module")
def decoded(spark, transcripts):
    return decode_dataframe(transcripts).cache()


def test_decode_udf_matches_pandas_parser(spark, transcripts, decoded):
    """Per-turn equality: the Spark UDF result == the pure-pandas parser
    result, under stable (conv_id, turn_idx) ordering."""
    pdf = fixtures.transcripts_pdf(N).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    expected = decode_batch(pdf["text"])
    got = (decoded.orderBy("conv_id", "turn_idx")
           .select("deviceVendor", "severity", "extensions", "message", "tags")
           .toPandas())
    assert list(got["deviceVendor"].fillna("§")) == list(expected["deviceVendor"].fillna("§"))
    assert list(got["severity"].fillna("§")) == list(expected["severity"].fillna("§"))
    # extension maps: compare as dicts (Spark returns dict, parser returns dict)
    for g, e in zip(got["extensions"], expected["extensions"]):
        assert (g or None) == (e or None)
    n_failed_exp = expected["tags"].notna().sum()
    n_failed_got = got["tags"].notna().sum()
    assert n_failed_got == n_failed_exp and n_failed_exp > 0


def test_routed_rows_match_golden(spark, decoded):
    routed = pipeline.route(pipeline.enrich(decoded, spark))
    got = {(r["conv_id"], r["turn_idx"]): r["sink_id"]
           for r in routed.select("conv_id", "turn_idx", "sink_id").collect()}

    # pure-Python golden
    pdf = fixtures.transcripts_pdf(N)
    exp_dec = decode_batch(pdf["text"])
    bands = dict(pipeline.severity_band_rows())
    for i in range(N):
        key = (pdf["conv_id"][i], pdf["turn_idx"][i])
        if exp_dec["error"][i] is not None:
            assert got[key] == pipeline.FAILURE_SINK, key
        else:
            vendor = exp_dec["deviceVendor"][i]
            band = bands.get(exp_dec["severity"][i], "unknown")
            assert got[key] == f"{vendor if vendor is not None else '_'}/{band}", key


def test_sink_counts_match_golden(spark, decoded):
    routed = pipeline.route(pipeline.enrich(decoded, spark))
    counts = {(r["sink_id"], r["window_start"]): r["n_events"]
              for r in pipeline.sink_counts(routed).collect()}

    pdf = fixtures.transcripts_pdf(N)
    exp_dec = decode_batch(pdf["text"])
    bands = dict(pipeline.severity_band_rows())
    golden: dict = {}
    for i in range(N):
        if exp_dec["error"][i] is not None:
            sink = pipeline.FAILURE_SINK
        else:
            v = exp_dec["deviceVendor"][i]
            sink = f"{v if v is not None else '_'}/{bands.get(exp_dec['severity'][i], 'unknown')}"
        w = pdf["ts"][i].floor("h").tz_localize(None)
        golden[(sink, w)] = golden.get((sink, w), 0) + 1
    assert len(counts) == len(golden)
    for k, v in golden.items():
        assert counts[k] == v, k


def test_sink_write_partitions_and_failure_sink(spark, decoded, tmp_path):
    routed = pipeline.route(pipeline.enrich(decoded, spark))
    base = str(tmp_path / "sinks")
    pipeline.write_sinks(routed, base, salt_buckets=4)
    dirs = {d for d in os.listdir(base) if d.startswith("sink_id=")}
    assert any(pipeline.FAILURE_SINK in d for d in dirs)
    assert any("security" in d for d in dirs)
    back = spark.read.parquet(base)
    assert back.count() == N
    # partition pruning applies on the sink column
    one = back.where(F.col("sink_id") == pipeline.FAILURE_SINK)
    assert one.count() == routed.where(F.col("error").isNotNull()).count()


def test_ext_accessor_and_ecs_mode(spark, transcripts):
    dec = decode_dataframe(transcripts, config=DecodeConfig(ecs_mode=True, now="2026-08-16T00:00:00Z"))
    row = (dec.where(ext("[source][ip]").isNotNull())
           .select(ext("[source][ip]").alias("ip")).first())
    assert row["ip"].startswith(("10.", "127."))


def test_encode_dataframe_roundtrip(spark):
    src = spark.createDataFrame(
        [("1.2.3.4", "80"), ("5.6.7.8", None)], "sourceAddress string, sourcePort string")
    enc = encode_dataframe(src, ["sourceAddress", "sourcePort"])
    lines = [r["cef_line"] for r in enc.collect()]
    assert lines[0].endswith("|sourceAddress=1.2.3.4 sourcePort=80")
    dec = decode_dataframe(enc, text_col="cef_line")
    got = dec.select(ext("sourceAddress").alias("a")).collect()
    assert {r["a"] for r in got} == {"1.2.3.4", "5.6.7.8"}


def test_manifest_snapshot_commit_and_resume(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    pdf = fixtures.transcripts_pdf(100)
    spark.createDataFrame(pdf[:50]).write.parquet(src_dir + "/batch1")
    spark.createDataFrame(pdf[50:]).write.parquet(src_dir + "/batch2")

    table = ManifestTable(str(tmp_path / "out"))
    b1 = spark.read.parquet(src_dir + "/batch1")
    snap1 = table.commit(b1, inputs=list_input_files(b1))
    assert table.latest_snapshot_id() == snap1.snapshot_id
    assert table.read(spark).count() == 50

    # resume: union scan of both batches, already-consumed files filtered out
    both = spark.read.parquet(src_dir + "/batch1", src_dir + "/batch2")
    fresh = table.filter_new_inputs(both)
    assert fresh.count() == 50
    snap2 = table.commit(fresh, inputs=list_input_files(both))
    assert snap2.parent_id == snap1.snapshot_id
    assert table.read(spark).count() == 50
    assert len(table.consumed_inputs()) == len(list_input_files(both))
    # nothing left to resume
    assert table.filter_new_inputs(both).count() == 0


def test_run_pipeline_end_to_end(spark, transcripts, tmp_path):
    res = pipeline.run_pipeline(spark, transcripts, sink_path=str(tmp_path / "s"),
                                collect_lineage=False)
    assert res.n_input == N
    assert 0 < res.n_failed < N * 0.1


def test_decode_flatten_renames_colliding_input_columns(spark):
    src = spark.createDataFrame(
        [("CEF:0|v|p|1|s|n|5|k=v", "preexisting", "kept")],
        "text string, message string, cef string")
    out = decode_dataframe(src)
    row = out.first()
    assert row["_src_message"] == "preexisting"
    assert row["_src_cef"] == "kept"  # not replaced by the transient struct
    assert row["message"] is None  # decoded failure-message column, success row
    # unambiguous reference works
    assert out.select(F.col("message")).count() == 1


def test_decode_text_col_named_like_decoded_field(spark):
    # payload column itself collides with a decoded field name
    src = spark.createDataFrame([("CEF:0|v|p|1|s|n|5|k=v",)], "message string")
    out = decode_dataframe(src, text_col="message")
    row = out.first()
    assert row["_src_message"].startswith("CEF:0")
    assert row["deviceVendor"] == "v"


def test_filter_new_inputs_scales_without_inlist(spark, tmp_path):
    """VERDICT r3 #1: a 5k-file consumed history must become a broadcast
    anti-join relation, NEVER a literal IN-list in the plan (plan size —
    and driver memory — must be independent of history size)."""
    src_dir = str(tmp_path / "in")
    pdf = fixtures.transcripts_pdf(40)
    spark.createDataFrame(pdf[:20]).write.parquet(src_dir + "/batch1")
    spark.createDataFrame(pdf[20:]).write.parquet(src_dir + "/batch2")

    table = ManifestTable(str(tmp_path / "out"))
    b1 = spark.read.parquet(src_dir + "/batch1")
    # commit records batch1's real files PLUS 5000 synthetic history entries
    fake_history = [f"file:///warehouse/archive/day={i // 200:03d}/part-{i:05d}.parquet"
                    for i in range(5000)]
    table.commit(b1, inputs=list_input_files(b1) + fake_history)
    assert len(table.consumed_inputs()) == 5000 + len(list_input_files(b1))

    both = spark.read.parquet(src_dir + "/batch1", src_dir + "/batch2")
    fresh = table.filter_new_inputs(both)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert " IN " not in plan and "isin" not in plan
    assert "part-00042.parquet" not in plan  # no history literal leaked into the plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert fresh.count() == 20  # batch1 filtered, batch2 survives

    # consumed relation itself is distributed, not a driver literal
    seen = table.consumed_inputs_df(spark)
    assert seen.count() == 5000 + len(list_input_files(b1))


def test_list_input_files_is_metadata_only(spark, tmp_path):
    """list_input_files must come from the plan's file index (no job):
    it agrees with the per-row input_file_name() ground truth."""
    p = str(tmp_path / "t")
    spark.createDataFrame(fixtures.transcripts_pdf(10)).repartition(3).write.parquet(p)
    scan = spark.read.parquet(p)
    meta_files = list_input_files(scan)
    row_files = sorted(r[0] for r in
                       scan.select(F.input_file_name()).distinct().collect())
    assert meta_files == row_files


def test_run_pipeline_result_is_driver_bounded(spark, transcripts, tmp_path):
    """VERDICT r3 #7: the full sink x window counts go to a table, the
    driver gets scalars + bounded top-k only."""
    table = ManifestTable(str(tmp_path / "counts"))
    res = pipeline.run_pipeline(spark, transcripts, counts_table=table, top_k=3)
    assert res.n_input == N
    assert 0 < res.n_failed < N * 0.1
    assert len(res.top_sinks) <= 3
    assert res.snapshot_id is not None and res.snapshot_id == table.latest_snapshot_id()
    written = table.read(spark)
    assert set(written.columns) == {"sink_id", "window_start", "n_events"}
    # the written relation is the system of record: it reconciles the scalars
    assert written.agg(F.sum("n_events")).first()[0] == res.n_input
    assert res.n_sinks == written.select("sink_id").distinct().count()
    # top_sinks ordering: busiest first
    sums = {r["sink_id"]: r["s"] for r in
            written.groupBy("sink_id").agg(F.sum("n_events").alias("s")).collect()}
    assert res.top_sinks[0][1] == max(sums.values())


def test_run_pipeline_job_lineage_and_resume(spark, tmp_path, capsys):
    """The job over a 4-file parquet dir with --table: lineage counts one
    row per (input file, sink) pair although the routed frame is persisted,
    and the re-run resumes to 0 new rows instead of failing."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_job",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "run_pipeline.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src = str(tmp_path / "in")
    spark.createDataFrame(fixtures.transcripts_pdf(2000)).repartition(4).write.parquet(src)
    scan = spark.read.parquet(src)
    files = list_input_files(scan)
    assert len(files) == 4
    fresh = pipeline.route(pipeline.enrich(pipeline.decode(
        scan.withColumn("_f", F.input_file_name()),
        columns=pipeline.ROUTING_COLUMNS), spark))
    pairs = fresh.select("_f", "sink_id").distinct().count()
    assert pairs > 4

    argv = ["--input", src, "--sinks", str(tmp_path / "sinks"),
            "--table", str(tmp_path / "counts")]
    job.main(argv)
    run1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run1["n_input"] == 2000
    assert run1["lineage_rows"] == pairs
    sinks = spark.read.parquet(str(tmp_path / "sinks"))
    assert "_input_file" not in sinks.columns and sinks.count() == 2000

    job.main(argv)
    run2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run2["n_input"] == 0 and run2["lineage_rows"] == 0
    table = ManifestTable(str(tmp_path / "counts"))
    assert run2["snapshot_id"] == table.latest_snapshot_id() != run1["snapshot_id"]
    assert table.consumed_inputs() == set(files)
    assert table.read_union(spark).agg(F.sum("n_events")).first()[0] == 2000
    # the resumed run appends its (zero) new rows; it must not wipe the sinks
    assert spark.read.parquet(str(tmp_path / "sinks")).count() == 2000


def test_sink_counts_keeps_null_ts_rows(spark):
    """Review r4: window() silently drops null-ts rows; the floor-bucket
    implementation must keep them as a NULL-window row so the counts
    relation (system of record) reconciles with the routed rows."""
    import datetime as dt

    rows = [("a/low", dt.datetime(2020, 1, 1, 10, 30)),
            ("a/low", dt.datetime(2020, 1, 1, 10, 45)),
            ("a/low", None),
            ("b/high", None)]
    routed = spark.createDataFrame(rows, "sink_id string, ts timestamp")
    got = {(r["sink_id"], r["window_start"]): r["n_events"]
           for r in pipeline.sink_counts(routed).collect()}
    assert got[("a/low", dt.datetime(2020, 1, 1, 10, 0))] == 2
    assert got[("a/low", None)] == 1
    assert got[("b/high", None)] == 1
    assert sum(got.values()) == len(rows)  # exact reconciliation


def test_run_pipeline_counts_include_null_ts(spark):
    import datetime as dt

    pdf = fixtures.transcripts_pdf(40)
    src = spark.createDataFrame(pdf)
    src = src.withColumn("ts", F.when(F.col("turn_idx") == 0,
                                      F.lit(None).cast("timestamp"))
                         .otherwise(F.col("ts")))
    res = pipeline.run_pipeline(spark, src)
    assert res.n_input == 40  # null-ts rows are not silently dropped


def test_window_seconds_parsing():
    assert pipeline._window_seconds("1 hour") == 3600
    assert pipeline._window_seconds("30 minutes") == 1800
    assert pipeline._window_seconds("2 days") == 172800
    with pytest.raises(ValueError):
        pipeline._window_seconds("fortnight")
    with pytest.raises(ValueError):
        pipeline._window_seconds("5 fortnights")
    # at most one trailing 's' strips: F.window-parity rejection (ADVICE r4)
    for bad in ("1 hourss", "5 minutess", "1 s", "1 ss"):
        with pytest.raises(ValueError):
            pipeline._window_seconds(bad)


def test_expire_snapshots_keeps_resume_coverage(spark, tmp_path):
    """Table maintenance: expiry deletes old snapshot data/manifests and
    orphans, but FOLDS expired lineage into the oldest kept manifest so
    checkpoint/resume still skips every consumed file."""
    src_dir = str(tmp_path / "in")
    pdf = fixtures.transcripts_pdf(60)
    for i in range(3):
        spark.createDataFrame(pdf[i * 20:(i + 1) * 20]).write.parquet(
            f"{src_dir}/batch{i}")

    table = ManifestTable(str(tmp_path / "out"))
    scans = [spark.read.parquet(f"{src_dir}/batch{i}") for i in range(3)]
    for s in scans:
        table.commit(s, inputs=list_input_files(s))
    # an orphaned snapshot: manifest written, pointer race lost
    import json as _json
    import os as _os
    orphan_dir = str(tmp_path / "out" / "data" / "orphan-1")
    _os.makedirs(orphan_dir)
    with open(str(tmp_path / "out" / "manifests" / "orphan-1.json"), "w") as f:
        _json.dump({"snapshot_id": "orphan-1", "parent_id": None,
                    "committed_at": 0, "n_rows": 0, "inputs": [],
                    "data_dir": orphan_dir}, f)

    all_files = set()
    for s in scans:
        all_files.update(list_input_files(s))
    assert table.consumed_inputs() == all_files
    # the delta view spans the chain; single-snapshot read is just the tip
    assert table.read_union(spark).count() == 60
    assert table.read(spark).count() == 20

    # compact first: the chain union (data + lineage) lands in ONE snapshot,
    # making keep_last=1 expiry lossless for delta-style tables
    comp = table.compact(spark)
    assert comp.n_rows == 60 and set(comp.inputs) == all_files

    # a FRESH off-chain manifest is age-gated (could be an in-flight
    # commit racing us) — nothing is deleted under the default grace
    assert table.expire_snapshots(keep_last=1) == []
    gone = table.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert len(gone) == 4  # three superseded delta snapshots + the orphan
    assert "orphan-1" in gone
    assert not _os.path.exists(orphan_dir)
    # single-snapshot chain, re-rooted, FULL data and lineage retained
    snap = table.snapshot()
    assert snap.parent_id is None
    assert table.read(spark).count() == 60
    assert table.read_union(spark).count() == 60
    assert table.consumed_inputs() == all_files
    both = spark.read.parquet(*[f"{src_dir}/batch{i}" for i in range(3)])
    assert table.filter_new_inputs(both).count() == 0
    # idempotent: nothing left to expire
    assert table.expire_snapshots(keep_last=1, orphan_grace_seconds=0) == []
    # keep_last=0 would leave LATEST dangling: rejected loudly
    with pytest.raises(ValueError):
        table.expire_snapshots(keep_last=0)


def test_compact_rewrites_small_files(spark, tmp_path):
    """Compaction: a fragmented snapshot rewrites to ~target-sized files in
    a NEW snapshot carrying the parent's lineage; expiry then reclaims the
    fragmented files and resume coverage is intact."""
    import os as _os

    src_dir = str(tmp_path / "in")
    spark.createDataFrame(fixtures.transcripts_pdf(400)).write.parquet(src_dir)
    scan = spark.read.parquet(src_dir)
    table = ManifestTable(str(tmp_path / "out"))
    # fragment: 64 files for 400 rows
    table.commit(scan.repartition(64), inputs=list_input_files(scan))
    frag = table.snapshot()
    n_frag = sum(1 for f in _os.listdir(frag.data_dir) if f.endswith(".parquet"))
    assert n_frag >= 32

    snap = table.compact(spark, target_file_bytes=64 * 1024 * 1024)
    # re-rooted: the compacted snapshot IS the full table; chaining to the
    # ancestors it duplicates would make read_union double-count
    assert snap.parent_id is None
    n_after = sum(1 for f in _os.listdir(snap.data_dir) if f.endswith(".parquet"))
    assert n_after <= 2  # 400 tiny rows fit one target file
    assert table.read(spark).count() == 400
    assert table.read_union(spark).count() == 400  # no double-counting
    assert snap.inputs == frag.inputs  # lineage carried forward
    # compact-after-compact stays exact (regression: pre-re-root this baked
    # duplicates in permanently)
    snap2 = table.compact(spark, target_file_bytes=64 * 1024 * 1024)
    assert table.read_union(spark).count() == 400 and snap2.n_rows == 400

    table.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert not _os.path.exists(frag.data_dir)
    assert table.read(spark).count() == 400
    assert table.filter_new_inputs(scan).count() == 0  # resume still covered


def test_value_percentiles_exact_interpolation(spark):
    """Hand-computed linear interpolation, multiple groups, the long-row
    output shape, and the pct labels."""
    from cefspark.pipeline import value_percentiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
         ("b", 10.0), ("b", 20.0)],
        "grp string, v double")
    got = {(r["grp"], r["pct"]): r["val"]
           for r in value_percentiles(df, "grp", "v", (0.5, 0.25)).collect()}
    # a: sorted [1,2,3,4] -> p50 = 2.5 (midpoint), p25 = 1.75
    # b: [10,20] -> p50 = 15, p25 = 12.5
    assert got == {("a", 0.5): 2.5, ("a", 0.25): 1.75,
                   ("b", 0.5): 15.0, ("b", 0.25): 12.5}


def test_corpus_stats_job_smoke(tmp_path):
    """jobs/corpus_stats.py end-to-end in a subprocess: writes the four
    relations and prints coherent top-line metrics JSON."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "stats")
    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, "jobs/corpus_stats.py", "--cpus", "4",
         "--sf-dir", "/root/testdata/sf0.001", "--out", out],
        capture_output=True, text=True, timeout=420, env=env, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["n_docs"] > 0
    assert metrics["vocab_exact"] > 0
    assert abs(metrics["vocab_hll"] - metrics["vocab_exact"]) <= \
        max(2, 0.05 * metrics["vocab_exact"])
    assert sum(metrics["langs"].values()) == metrics["n_docs"]
    for rel in ("per_doc", "tfidf_topk", "exact_dups", "lang_counts"):
        assert os.path.isdir(os.path.join(out, rel)), rel


def test_compact_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    """cluster_by compaction: data survives exactly, and each rewritten
    parquet file covers a narrow value range (footer min/max stats nearly
    disjoint across files) so range filters can skip whole files."""
    import os as _os

    import pyarrow.parquet as pq

    src_dir = str(tmp_path / "in")
    # write SHUFFLED so pre-compact files have overlapping full-width ranges
    spark.range(4000).select(
        F.xxhash64("id").alias("shuffle_key"), F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("v")
    ).orderBy("shuffle_key").drop("shuffle_key") \
        .repartition(16).write.parquet(src_dir)
    scan = spark.read.parquet(src_dir)
    table = ManifestTable(str(tmp_path / "tbl"))
    table.commit(scan, inputs=list_input_files(scan))

    with pytest.raises(ValueError, match="mutually exclusive"):
        table.compact(spark, partition_by=["v"], cluster_by=["event_id"])

    snap = table.compact(spark, target_file_bytes=8_000,
                         cluster_by=["event_id"])
    assert table.read(spark).count() == 4000
    assert set(r["event_id"] for r in table.read(spark).collect()) == set(range(4000))

    files = sorted(_os.path.join(snap.data_dir, f)
                   for f in _os.listdir(snap.data_dir) if f.endswith(".parquet"))
    assert len(files) >= 2, "fixture must produce multiple files"
    ranges = []
    for path in files:
        md = pq.ParquetFile(path).metadata
        col = md.schema.to_arrow_schema().get_field_index("event_id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # ranges must be pairwise non-overlapping (repartitionByRange gives
    # disjoint ranges up to sampling boundary duplicates of a single value)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)
    # and each file must cover far less than the full domain
    widths = [hi - lo for lo, hi in ranges]
    assert max(widths) < 4000 / 2


def test_concurrent_commits_serialize_no_lost_append(spark, tmp_path):
    """VERDICT r4 'what's wrong' #2: two committers racing the parent-read →
    pointer-flip section must serialize on the commit lock — the chain must
    contain BOTH snapshots (one parented on the other), never two siblings
    parented on the same snapshot (the loser would orphan and later be
    deleted by expire_snapshots: a lost append)."""
    import threading

    table = ManifestTable(str(tmp_path / "t"))
    base = spark.createDataFrame(fixtures.transcripts_pdf(10))
    root = table.commit(base, inputs=[])

    snaps, errs = [], []

    def committer(tag):
        try:
            df = spark.createDataFrame(fixtures.transcripts_pdf(5))
            snaps.append(table.commit(df, inputs=[f"mem://{tag}"]))
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    ts = [threading.Thread(target=committer, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    parents = sorted(s.parent_id for s in snaps)
    ids = sorted(s.snapshot_id for s in snaps)
    # linear chain: one child of root, the other a child of that child
    assert root.snapshot_id in parents
    assert parents != [root.snapshot_id, root.snapshot_id], "lost append!"
    assert set(parents) - {root.snapshot_id} <= set(ids)
    # LATEST points at the chain head and the union view sees every commit
    chain = table.chain()
    assert len(chain) == 3
    assert table.read_union(spark).count() == 20
    # lockfile released
    assert not (tmp_path / "t" / "COMMIT.lock").exists()


def test_stale_commit_lock_is_broken(tmp_path, spark):
    """A crashed committer's lockfile (older than the stale threshold) must
    not brick the table."""
    import os as _os

    table = ManifestTable(str(tmp_path / "t"))
    lock = tmp_path / "t" / "COMMIT.lock"
    lock.write_text("dead 0")
    old = time.time() - 3600
    _os.utime(lock, (old, old))
    df = spark.createDataFrame(fixtures.transcripts_pdf(5))
    snap = table.commit(df, inputs=[])
    assert table.latest_snapshot_id() == snap.snapshot_id
    assert not lock.exists()


def test_old_lock_of_live_holder_is_not_broken(tmp_path, spark):
    """ADVICE r5: a live committer paused >60s (GC/NFS stall) must NOT have
    its lock broken mid-critical-section. The lockfile names pid+host; a
    same-host pid that is still alive defeats the age rule, and the waiter
    honors its deadline on the stale path instead of spinning."""
    import os as _os
    import socket as _socket

    table = ManifestTable(str(tmp_path / "t"))
    lock = tmp_path / "t" / "COMMIT.lock"
    # "paused holder": our own (definitely live) pid, hour-old mtime
    lock.write_text(f"{_os.getpid()} {_socket.gethostname()} 0")
    old = time.time() - 3600
    _os.utime(lock, (old, old))
    df = spark.createDataFrame(fixtures.transcripts_pdf(5))
    t0 = time.monotonic()
    with pytest.raises(storage.ConcurrentCommitError):
        table.commit(df, inputs=[], lock_timeout=0.5)
    assert time.monotonic() - t0 < 10  # deadline honored, no spin
    assert lock.exists()  # the live holder's lock survived

    # same age, but a dead same-host pid: broken and the commit proceeds
    proc = subprocess.Popen(["true"])
    proc.wait()
    lock.write_text(f"{proc.pid} {_socket.gethostname()} 0")
    _os.utime(lock, (old, old))
    snap = table.commit(df, inputs=[], lock_timeout=30)
    assert table.latest_snapshot_id() == snap.snapshot_id
    assert not lock.exists()


def test_resume_with_hostile_paths(spark, tmp_path):
    """ADVICE r4: resume correctness must hold when input paths contain
    spaces / '+' / non-ASCII — the manifest records `df.inputFiles()` while
    the probe uses `input_file_name()`, and both sides are canonicalized
    before the anti-join so no consumed file ever re-matches as new."""
    src_dir = tmp_path / "in dir+ü"
    pdf = fixtures.transcripts_pdf(40)
    b1 = str(src_dir / "batch 1+a")
    b2 = str(src_dir / "batch 2+b")
    spark.createDataFrame(pdf[:20]).write.parquet(b1)
    spark.createDataFrame(pdf[20:]).write.parquet(b2)

    table = ManifestTable(str(tmp_path / "out"))
    first = spark.read.parquet(b1)
    table.commit(first, inputs=list_input_files(first))

    both = spark.read.parquet(b1, b2)
    fresh = table.filter_new_inputs(both)
    assert fresh.count() == 20  # batch1 filtered, batch2 fresh
    table.commit(fresh, inputs=list_input_files(both))
    assert table.filter_new_inputs(both).count() == 0


def test_table_format_probe_and_factory(spark, tmp_path):
    """The catalog seam is executable: the probe reports what this
    deployment actually carries (no catalog jar here -> 'manifest'), the
    factory routes to ManifestTable, and a detected-but-unwired format is a
    typed rejection carrying the contract wiring plan."""
    from cefspark import storage

    assert storage.detect_table_format(spark) == "manifest"
    t = storage.open_table(str(tmp_path / "t"), spark)
    assert isinstance(t, storage.ManifestTable)
    with pytest.raises(NotImplementedError, match="iceberg delegate"):
        storage.open_table(str(tmp_path / "t"), fmt="iceberg")
    with pytest.raises(ValueError, match="unknown table format"):
        storage.open_table(str(tmp_path / "t"), fmt="hudi")
    # every seam method in the contract exists on the shipped implementation
    for seam in storage.TABLE_CONTRACT:
        for meth in seam.split("/"):
            assert hasattr(t, meth), seam


def test_detect_rate_spikes_integer_median_predicate(spark):
    """Spike windows are exactly those exceeding factor x the sink's median
    count (percentile_disc: an observed integer); sinks whose counts are
    flat never alert."""
    rows = []
    for w in range(10):
        rows.append(("steady", w, 5))          # flat sink: never alerts
    for w in range(9):
        rows.append(("bursty", w, 2))
    rows.append(("bursty", 9, 7))              # 7 > 2*2 -> alert
    df = spark.createDataFrame(
        [(s, f"2026-01-01 {w:02d}:00:00", n) for s, w, n in rows],
        "sink_id string, window_start string, n_events long")
    df = df.withColumn("window_start", F.col("window_start").cast("timestamp"))
    got = pipeline.detect_rate_spikes(df, factor=2).collect()
    assert [(r["sink_id"], r["n_events"], r["median_n"]) for r in got] == \
        [("bursty", 7, 2)]
    # boundary: exactly factor x median does NOT alert
    edge = spark.createDataFrame(
        [("s", "2026-01-01 00:00:00", 2), ("s", "2026-01-01 01:00:00", 4)],
        "sink_id string, window_start string, n_events long")
    edge = edge.withColumn("window_start", F.col("window_start").cast("timestamp"))
    # median of {2,4} by percentile_disc(0.5) is 2; 4 == 2*2 -> no alert
    assert pipeline.detect_rate_spikes(edge, factor=2).count() == 0


def test_abandoned_breaker_lock_recovers(tmp_path, spark):
    """A crashed lock-breaker (stale COMMIT.lock AND stale .breaker left
    behind) must not deadlock the table: the breaker is age-broken, then the
    stale commit lock, then the commit proceeds."""
    import os as _os

    table = ManifestTable(str(tmp_path / "t"))
    old = time.time() - 3600
    lock = tmp_path / "t" / "COMMIT.lock"
    lock.write_text("dead 0")
    _os.utime(lock, (old, old))
    breaker = tmp_path / "t" / "COMMIT.lock.breaker"
    breaker.write_text("")
    _os.utime(breaker, (old, old))
    df = spark.createDataFrame(fixtures.transcripts_pdf(5))
    snap = table.commit(df, inputs=[], lock_timeout=30)
    assert table.latest_snapshot_id() == snap.snapshot_id
    assert not lock.exists() and not breaker.exists()


def test_prepare_training_data_job_smoke(tmp_path):
    """jobs/prepare_training_data.py end-to-end in a subprocess: the full
    redact -> quality-filter -> dedup -> decontaminate -> split composition
    produces a partitioned corpus with coherent survivor accounting, and the
    shipped text is actually redacted."""
    import json
    import subprocess
    import sys

    import pyarrow.dataset as ds

    out = str(tmp_path / "training")
    r = subprocess.run(
        [sys.executable, "jobs/prepare_training_data.py", "--cpus", "4",
         "--sf-dir", "/root/testdata/sf0.001", "--ngram", "3", "--out", out,
         # exercise the opt-in boilerplate stage; at 0.5 no single-line
         # word-soup doc recurs in half the corpus, so counts are unchanged
         # while the stage's shuffles + Observation actually run
         "--boilerplate-frac", "0.5",
         # exercise the opt-in packing stage: capacity 96 over ~54-token
         # docs -> mostly 1-2 docs per pack
         "--pack-capacity", "96", "--pack-shards", "8",
         # exercise the opt-in CCNet LM filter: self-trained LM, threshold
         # far above any self-perplexity -> machinery runs, drops nothing,
         # so the survivor arithmetic below still closes exactly
         "--ppl-threshold", "1000000"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    m = json.loads(r.stdout.strip().splitlines()[-1])
    assert m["n_boilerplate_lines_removed"] == 0
    assert 0 < m["n_final"] <= m["n_after_dedup"] <= m["n_after_quality"] \
        <= m["n_input"]
    assert m["n_ppl_dropped"] == 0
    assert m["n_final"] == (m["n_after_dedup"] - m["n_contaminated_dropped"]
                            - m["n_ppl_dropped"])
    assert sum(m["splits"].values()) == m["n_final"]
    assert set(m["splits"]) <= {"train", "val", "test"}
    # corpus written partitioned by split; text column carries no raw email
    tbl = ds.dataset(m["out"], partitioning="hive").to_table()
    assert tbl.num_rows == m["n_final"]
    texts = tbl.column("text").to_pylist()
    assert all("@" not in t or "<EMAIL>" in t or "a@b" in t for t in texts)
    # packing stage: one pack row per train doc, pack totals within
    # capacity except solo oversize docs, pack count coherent
    import os as _os
    packs = ds.dataset(_os.path.join(out, "packs")).to_table().to_pydict()
    assert len(packs["doc_id"]) == m["splits"].get("train", 0)
    assert m["n_packs"] >= 1
    import collections
    tot = collections.Counter()
    for sh, pid, n in zip(packs["shard"], packs["pack_id"], packs["n_tokens"]):
        tot[(sh, pid)] += n
    for (sh, pid), n in tot.items():
        solo = sum(1 for a, b in zip(packs["shard"], packs["pack_id"])
                   if (a, b) == (sh, pid))
        assert n <= 96 or solo == 1


def test_prepare_training_data_ppl_filter_drops_outliers(tmp_path):
    """The opt-in 4b LM stage really filters: 30 vocabulary-sharing docs
    plus 3 gibberish docs, threshold derived from lm.reference_perplexity
    (midpoint between the normal max and gibberish min), job must drop
    exactly the gibberish ids."""
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from cefspark import lm

    texts = {i: f"the cat sat on the mat row{i} and the dog ran"
             for i in range(1, 31)}
    texts.update({31: "zq7 xv9 kkj qpw mmz ttb eer yyu",
                  32: "aab bbc ccd dde eef ffg ggh hhi",
                  33: "q1 q2 q3 q4 q5 q6 q7 q8 q9"})
    vocab = {t for s in texts.values() for t in s.split()}
    ref = lm.reference_perplexity(texts, texts, vocab_size=len(vocab), k=1.0)
    normal_max = max(v["perplexity"] for k, v in ref.items() if k <= 30)
    gib_min = min(v["perplexity"] for k, v in ref.items() if k > 30)
    assert normal_max < gib_min          # the fixture separates cleanly
    thr = (normal_max + gib_min) / 2

    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(sorted(texts), type=pa.int64()),
        "text": [texts[k] for k in sorted(texts)]}), src)
    out = str(tmp_path / "training")
    r = subprocess.run(
        [sys.executable, "jobs/prepare_training_data.py", "--cpus", "4",
         "--input", src, "--out", out, "--ngram", "12",
         "--min-quality", "0", "--min-tokens", "2",
         "--ppl-threshold", str(thr)],
        capture_output=True, text=True, timeout=420, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    m = json.loads(r.stdout.strip().splitlines()[-1])
    assert m["n_ppl_dropped"] == 3
    kept = set(ds.dataset(m["out"], partitioning="hive").to_table()
               .column("doc_id").to_pylist())
    assert kept == set(range(1, 31))


def test_prepare_sft_data_job_smoke(tmp_path):
    """jobs/prepare_sft_data.py end-to-end in a subprocess: redact ->
    context-crop -> render -> conversation dedup -> SFT pairs ->
    by-conversation split, with coherent accounting."""
    import collections
    import json
    import subprocess
    import sys

    import pyarrow.dataset as ds

    out = str(tmp_path / "sft")
    r = subprocess.run(
        [sys.executable, "jobs/prepare_sft_data.py", "--cpus", "4",
         "--synthesize", "2000", "--out", out, "--context-budget", "60"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    m = json.loads(r.stdout.strip().splitlines()[-1])
    assert 0 < m["n_turns_after_crop"] <= m["n_turns_input"]
    assert 0 < m["n_conversations_after_dedup"] <= m["n_conversations"]
    assert sum(m["splits"].values()) == m["n_pairs"] > 0
    tbl = ds.dataset(m["out"], partitioning="hive").to_table()
    assert tbl.num_rows == m["n_pairs"]
    # split is a pure function of conv_id: no conversation straddles splits
    by_conv = collections.defaultdict(set)
    for conv, split in zip(tbl.column("conv_id").to_pylist(),
                           tbl.column("split").to_pylist()):
        by_conv[conv].add(split)
    assert all(len(s) == 1 for s in by_conv.values())
    # the context crop bounds every pair's context+response token count
    # (context = kept earlier turns; each pair's total never exceeds the
    # conversation's kept-suffix budget... the FINAL turn exemption can
    # exceed it only when a single turn is oversized — absent here)
    for ctx, resp in zip(tbl.column("context").to_pylist(),
                         tbl.column("response").to_pylist()):
        n = len([t for t in (ctx + " " + resp).split() if t])
        assert n <= 60 + 20   # role prefixes add <= one token per turn


def test_grok_compile_and_parse(spark):
    """Grok expressions compile positionally (no capture groups inside base
    patterns), composites expand recursively, and parsing yields NULL per
    field on non-matching rows but '' for legitimately-empty captures."""
    from pyspark.sql import functions as F

    from cefspark import grok

    p, fields = grok.compile_grok("%{IP:ip} %{INT:n}")
    assert fields == ["ip", "n"]
    _, af = grok.compile_grok("%{COMMONAPACHELOG}")
    assert af[:2] == ["clientip", "ident"] and "response" in af

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown grok pattern"):
        grok.compile_grok("%{NOPE:x}")
    with _pytest.raises(ValueError, match="duplicate grok field"):
        grok.compile_grok("%{INT:x} %{INT:x}")
    with _pytest.raises(ValueError, match="cannot take a field name"):
        grok.compile_grok("%{SYSLOGLINE:whole}")
    with _pytest.raises(ValueError, match="binds no fields"):
        grok.grok_parse(spark.range(1).select(F.lit("x").alias("text")),
                        "%{INT}")

    df = spark.createDataFrame(
        [(1, '1.2.3.4 - bob [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 99'),
         (2, '9.8.7.6 x y [01/Jan/2026:00:00:01 +0000] "POST /api HTTP/1.1" 404 -'),
         (3, "garbage")], "id long, text string")
    out = {r["id"]: r for r in grok.grok_parse(df, "%{COMMONAPACHELOG}").collect()}
    assert out[1]["clientip"] == "1.2.3.4" and out[1]["response"] == "200" \
        and out[1]["bytes"] == "99"
    assert out[2]["verb"] == "POST" and out[2]["bytes"] == ""  # '-' branch
    assert out[3]["clientip"] is None and out[3]["bytes"] is None
    # keep_unmatched=False filters
    assert grok.grok_parse(df, "%{COMMONAPACHELOG}",
                           keep_unmatched=False).count() == 2

    sys_df = spark.createDataFrame(
        [(1, "Feb  3 12:04:01 host1 sshd[999]: Accepted publickey"),
         (2, "Feb 13 02:04:01 h2 cron: job ran")], "id long, text string")
    got = {r["id"]: r for r in grok.grok_parse(sys_df, "%{SYSLOGLINE}").collect()}
    assert got[1]["program"] == "sshd" and got[1]["pid"] == "999"
    assert got[2]["program"] == "cron" and got[2]["pid"] == ""


def test_grok_parse_plan_is_codegen_no_shuffle(spark):
    from pyspark.sql import functions as F

    from cefspark import grok

    df = spark.range(10).select(F.concat(F.lit("1.2.3.4 "), F.col("id"))
                                .alias("text"))
    plan = grok.grok_parse(df, "%{IP:ip} %{INT:n}")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_snapshot_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF on the manifest table: reads reconstruct the table
    exactly as it stood between commits; before the first commit -> None;
    expiry honestly limits the horizon."""
    table = ManifestTable(str(tmp_path / "t"))
    pdf = fixtures.transcripts_pdf(30)
    s1 = table.commit(spark.createDataFrame(pdf[:10]), inputs=[])
    time.sleep(0.05)
    between_1_2 = time.time()
    time.sleep(0.05)
    s2 = table.commit(spark.createDataFrame(pdf[10:25]), inputs=[])
    time.sleep(0.05)
    after_2 = time.time()

    assert table.snapshot_as_of(s1.committed_at - 10) is None
    assert table.read_union_as_of(spark, s1.committed_at - 10) is None
    assert table.snapshot_as_of(between_1_2).snapshot_id == s1.snapshot_id
    assert table.read_union_as_of(spark, between_1_2).count() == 10
    assert table.snapshot_as_of(after_2).snapshot_id == s2.snapshot_id
    assert table.read_union_as_of(spark, after_2).count() == 25
    # future timestamp == current view
    assert table.read_union_as_of(spark, time.time() + 100).count() == 25
    # expiry removes the horizon honestly
    table.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert table.snapshot_as_of(between_1_2) is None


def test_grok_parse_any_first_match_wins(spark):
    """Mixed-format stream through a pattern list: each row gets the first
    matching pattern's fields, shared field names are filled by that
    pattern only, non-matching rows carry NULL everywhere."""
    from cefspark import grok

    df = spark.createDataFrame(
        [(1, '1.2.3.4 - bob [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 99'),
         (2, "Feb  3 12:04:01 host1 sshd[999]: hello"),
         (3, "2026-01-01T00:00:00Z INFO something happened"),
         (4, "???")], "id long, text string")
    out = {r["id"]: r for r in grok.grok_parse_any(
        df, ["%{COMMONAPACHELOG}", "%{SYSLOGLINE}",
             "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}"]
    ).collect()}
    assert out[1]["grok_pattern"] == 0 and out[1]["clientip"] == "1.2.3.4"
    assert out[1]["msg"] is None  # syslog/iso fields untouched for apache rows
    assert out[2]["grok_pattern"] == 1 and out[2]["program"] == "sshd" \
        and out[2]["msg"] == "hello"
    assert out[3]["grok_pattern"] == 2 and out[3]["level"] == "INFO" \
        and out[3]["ts"] == "2026-01-01T00:00:00Z"
    assert out[4]["grok_pattern"] is None and out[4]["clientip"] is None

    with pytest.raises(ValueError, match="match column"):
        grok.grok_parse_any(df, ["%{INT:grok_pattern}"])
    with pytest.raises(ValueError, match="no grok expressions"):
        grok.grok_parse_any(df, [])


def test_grok_parse_works_on_streams(spark, tmp_path):
    """grok is a pure projection, so it composes with Structured Streaming
    unchanged: an availableNow drain equals the batch parse row-for-row."""
    from pyspark.sql import functions as F

    from cefspark import grok

    rows = [(i, f"10.0.0.{i % 9} - u{i} [10/Oct/2025:00:00:00 +0000] "
                f'"GET /d/{i} HTTP/1.0" 200 {i * 3}') for i in range(40)]
    src = str(tmp_path / "groksrc")
    batch_df = spark.createDataFrame(rows, "id long, text string")
    batch_df.coalesce(2).write.parquet(src)
    exp = {r["id"]: (r["clientip"], r["bytes"]) for r in
           grok.grok_parse(batch_df, "%{COMMONAPACHELOG}").collect()}

    stream = (spark.readStream.schema("id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (grok.grok_parse(stream, "%{COMMONAPACHELOG}")
         .select("id", "clientip", "bytes")
         .writeStream.format("memory").queryName("grokstream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["id"]: (r["clientip"], r["bytes"]) for r in
           spark.sql("select * from grokstream").collect()}
    assert got == exp and len(got) == 40


def test_dissect_kv_cidr_work_on_streams(spark, tmp_path):
    """dissect/kv are pure projections and cidr is a stream-static
    broadcast join — all three compose with Structured Streaming
    unchanged: an availableNow drain equals the batch result row-for-row."""
    from cefspark import cidr, dissect, kv

    rows = [(i, f"svc-{i % 4} {i} INFO", f"dport={i % 100} src=10.0.{i % 8}.1")
            for i in range(30)]
    src = str(tmp_path / "dkcsrc")
    batch_df = spark.createDataFrame(rows, "id long, text string, kvline string")
    batch_df.coalesce(2).write.parquet(src)
    dim = spark.createDataFrame(
        [("10.0.0.0/22", "lo"), ("10.0.4.0/22", "hi")], "cidr string, zone string")

    def xform(df):
        d = dissect.dissect_parse(df, "%{service} %{n:int} %{level}")
        k = kv.kv_extract(d, {"dport": "int"}, text_col="kvline")
        c = cidr.enrich_cidr(
            kv.kv_extract(k, ["src"], text_col="kvline"), dim, "src")
        return c.select("id", "service", "n", "dport", "zone")

    exp = {r["id"]: (r["service"], r["n"], r["dport"], r["zone"])
           for r in xform(batch_df).collect()}
    stream = (spark.readStream.schema("id long, text string, kvline string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (xform(stream).writeStream.format("memory").queryName("dkcstream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["id"]: (r["service"], r["n"], r["dport"], r["zone"])
           for r in spark.sql("select * from dkcstream").collect()}
    assert got == exp and len(got) == 30
    assert exp[1] == ("svc-1", 1, 1, "lo") and exp[5][3] == "hi"


def test_grok_typed_coercion(spark):
    """%{PAT:field:type} coerces JVM-side via try_cast: int/long -> BIGINT,
    float/double -> DOUBLE; unparseable or empty captures land NULL
    (ANSI-safe); untyped fields stay string. Conflicting per-field types
    across grok_parse_any patterns are an eager error."""
    from pyspark.sql import functions as F

    from cefspark import grok

    df = spark.createDataFrame(
        [(1, "10.0.0.1 200 0.25"), (2, "10.0.0.2 xxl 0.5"), (3, "nope")],
        "id long, text string")
    out = grok.grok_parse(
        df, "%{IP:ip} %{NOTSPACE:status:int} %{NUMBER:lat:float}")
    types = dict(out.dtypes)
    assert types["status"] == "bigint" and types["lat"] == "double" \
        and types["ip"] == "string"
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["status"] == 200 and rows[1]["lat"] == 0.25
    assert rows[2]["status"] is None          # 'xxl': try_cast -> NULL
    assert rows[2]["lat"] == 0.5              # other fields still coerce
    assert rows[3]["status"] is None and rows[3]["lat"] is None

    with pytest.raises(ValueError, match="unknown grok type suffix"):
        grok.compile_grok_typed("%{INT:n:decimal}")
    p, typed = grok.compile_grok_typed("%{INT:a:long} %{NUMBER:b:double} %{WORD:c}")
    assert typed == [("a", "bigint"), ("b", "double"), ("c", None)]

    with pytest.raises(ValueError, match="conflicting types"):
        grok.grok_parse_any(df.select("text"), ["%{INT:n:int}", "%{WORD:n}"])
    # consistent typing across patterns is fine and lands once
    any_out = grok.grok_parse_any(
        df, ["%{IP:ip} %{INT:n:int} %{NUMBER:lat:float}",
             "%{WORD:w} %{INT:n:int} %{NUMBER:lat:float}"])
    assert dict(any_out.dtypes)["n"] == "bigint"


def test_grok_round6_base_patterns(spark):
    """HOSTNAME / URIPATH / UUID / MAC / IPORHOST: positive matches and the
    near-miss rejections that distinguish them from NOTSPACE."""
    from cefspark import grok

    df = spark.createDataFrame(
        [(1, "web-1.eu.example.com /api/v2/items"
             " 550e8400-e29b-41d4-a716-446655440000 de:ad:be:ef:00:01"),
         (2, "-bad.host notapath bad-uuid de:ad:be:ef:00"),  # all four fail
         (3, "h /x/ 550E8400-E29B-41D4-A716-446655440AAA DE-AD-BE-EF-00-01")],
        "id long, text string")
    out = {r["id"]: r for r in grok.grok_parse(
        df, "%{HOSTNAME:host} %{URIPATH:path} %{UUID:uid} %{MAC:mac}"
    ).collect()}
    assert out[1]["host"] == "web-1.eu.example.com"
    assert out[1]["path"] == "/api/v2/items"
    assert out[1]["uid"].startswith("550e8400") and out[1]["mac"].endswith("01")
    assert all(out[2][c] is None for c in ("host", "path", "uid", "mac"))
    assert out[3]["host"] == "h" and out[3]["mac"] == "DE-AD-BE-EF-00-01"

    ih = {r["id"]: r for r in grok.grok_parse(
        df.select("id", F.split("text", " ")[0].alias("text")),
        "%{IPORHOST:t}").collect()}
    assert ih[1]["t"] == "web-1.eu.example.com" and ih[2]["t"] is None


def test_dedup_ingest_history_wide(spark, tmp_path):
    """Incremental ingest: in-batch dupes collapse to the min id,
    history dupes never re-enter across batches, fingerprints accumulate,
    and only scalar counts are computed (no text rescan of the corpus)."""
    corpus = ManifestTable(str(tmp_path / "corpus"))
    fps = ManifestTable(str(tmp_path / "fps"))

    b1 = spark.createDataFrame(
        [(3, "alpha"), (1, "alpha"), (2, "beta")], "doc_id long, text string")
    r1 = storage.dedup_ingest(spark, corpus, fps, b1)
    assert r1 == {**r1, "n_batch": 3, "n_in_batch_dupes": 1,
                  "n_history_dupes": 0, "n_ingested": 2}
    got1 = {(r["doc_id"], r["text"])
            for r in corpus.read_union(spark).collect()}
    assert got1 == {(1, "alpha"), (2, "beta")}  # min-id representative

    # batch 2: one history dupe ('beta'), one fresh, an in-batch dupe pair
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma")],
        "doc_id long, text string")
    r2 = storage.dedup_ingest(spark, corpus, fps, b2)
    assert (r2["n_in_batch_dupes"], r2["n_history_dupes"],
            r2["n_ingested"]) == (1, 1, 1)
    got2 = {r["text"] for r in corpus.read_union(spark).collect()}
    assert got2 == {"alpha", "beta", "gamma"}

    # batch 3: everything already known -> empty commit, chain still sane
    b3 = spark.createDataFrame([(20, "alpha"), (21, "gamma")],
                               "doc_id long, text string")
    r3 = storage.dedup_ingest(spark, corpus, fps, b3)
    assert r3["n_ingested"] == 0 and r3["n_history_dupes"] == 2
    assert corpus.read_union(spark).count() == 3
    assert fps.read_union(spark).count() == 3  # one fp per admitted text

    with pytest.raises(ValueError, match="_fp"):
        storage.dedup_ingest(spark, corpus, fps,
                             b1.withColumn("_fp", F.lit("x")))


def test_grok_library_growth_java_side(spark):
    """Round-6 library growth under the JVM regex engine: IPv6 (incl.
    compressed and v4-mapped forms), URI, SYSLOGBASE's optional facility
    block, and EMAILADDRESS — the pure-`re` conformance suite is
    tests/test_grok_library.py; this pins that java.util.regex agrees on
    the same inputs through grok_parse."""
    from cefspark import grok

    df = spark.createDataFrame(
        [(1, "::ffff:10.0.0.7 https://bob@api.example.com:8443/v1/q?x=1"
             " ops@mail.example.com"),
         (2, "2001:db8::8a2e:192.168.1.1 ftp://10.1.2.3/f.bin x@localhost"),
         (3, "not-an-ip http//bad not-an-email")],
        "id long, text string")
    out = {r["id"]: r for r in grok.grok_parse(
        df, "%{IPV6:addr} %{URI:uri} %{EMAILADDRESS:email}").collect()}
    assert out[1]["addr"] == "::ffff:10.0.0.7"
    assert out[1]["uri"].endswith("/v1/q?x=1")
    assert out[1]["email"] == "ops@mail.example.com"
    assert out[2]["addr"] == "2001:db8::8a2e:192.168.1.1"
    assert all(out[3][c] is None for c in ("addr", "uri", "email"))

    sy = spark.createDataFrame(
        [(1, "Oct 11 22:14:15 <13.6> web-1.example.com sshd[4123]: denied"),
         (2, "Oct 11 22:14:15 10.0.0.9 cron: wake")],
        "id long, text string")
    got = {r["id"]: r for r in grok.grok_parse(
        sy, "%{SYSLOGBASE} %{GREEDYDATA:msg}").collect()}
    assert got[1]["facility"] == "13" and got[1]["priority"] == "6"
    assert got[1]["program"] == "sshd" and got[1]["pid"] == "4123"
    assert got[1]["msg"] == "denied"
    # optional facility/pid yield '' (group in a matched row that did not
    # participate), never NULL — NULL means the row didn't match at all
    assert got[2]["facility"] == "" and got[2]["pid"] == ""
    assert got[2]["logsource"] == "10.0.0.9" and got[2]["msg"] == "wake"


def test_dissect_parse_spark(spark):
    """dissect on the JVM: typed capture, right-pad swallow, append join,
    NULLs on non-fitting rows, collision rejection, and the plan staying
    UDF-free (same expression family as grok — one rlike + extracts)."""
    from cefspark import dissect

    df = spark.createDataFrame(
        [(1, "svc-a        7 WARN op 35"),
         (2, "junk")], "id long, text string")
    out = {r["id"]: r for r in dissect.dissect_parse(
        df, "%{service->} %{n:int} %{level} %{verb} %{+verb}").collect()}
    assert out[1]["service"] == "svc-a" and out[1]["n"] == 7
    assert out[1]["verb"] == "op 35"
    assert all(out[2][c] is None for c in ("service", "n", "level", "verb"))
    sch = dict(dissect.dissect_parse(
        df, "%{service->} %{n:int} %{level} %{verb} %{+verb}").dtypes)
    assert sch["n"] == "bigint" and sch["service"] == "string"

    dropped = dissect.dissect_parse(df, "%{a} %{b}", keep_unmatched=False)
    assert dropped.count() == 1

    with pytest.raises(ValueError, match="collide"):
        dissect.dissect_parse(df.withColumn("level", F.lit("x")),
                              "%{level} %{b}")
    plan = dissect.dissect_parse(
        df, "%{a} %{b}")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_kv_extract_and_map_spark(spark):
    """kv on the JVM: first-occurrence-wins, typed values, absent key ->
    NULL, prefix namespacing, and kv_map building a clean map (pairs
    without '=' dropped, empty line -> empty map)."""
    from cefspark import kv

    df = spark.createDataFrame(
        [(1, "src=10.0.0.1 src=9.9.9.9 dport=443 zone=z1 msg=ok"),
         (2, "dport=80 msg=hi"),
         (3, "")], "id long, text string")
    out = {r["id"]: r for r in kv.kv_extract(
        df, {"src": None, "dport": "int", "zone": None}).collect()}
    assert out[1]["src"] == "10.0.0.1"          # first occurrence wins
    assert out[1]["dport"] == 443 and out[1]["zone"] == "z1"
    assert out[2]["src"] is None and out[2]["dport"] == 80
    assert out[3]["dport"] is None

    pref = kv.kv_extract(df, ["msg"], prefix="kv_")
    assert "kv_msg" in pref.columns
    with pytest.raises(ValueError, match="collide"):
        kv.kv_extract(df, ["text"])

    m = {r["id"]: r["kv"] for r in kv.kv_map(
        df.select("id", F.regexp_replace("text", "src=9.9.9.9 ", "")
                  .alias("text"))).collect()}
    assert m[1] == {"src": "10.0.0.1", "dport": "443",
                    "zone": "z1", "msg": "ok"}
    assert m[3] == {}


def test_grok_combined_apache_log(spark):
    """COMBINEDAPACHELOG: nested composite expansion (references
    COMMONAPACHELOG) keeps positional group numbering; referrer/agent
    capture with their quotes (QS semantics)."""
    from cefspark import grok

    df = spark.createDataFrame(
        [(1, '1.2.3.4 - bob [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0"'
             ' 200 99 "http://ref.example/page" "Mozilla/5.0 (X11)"'),
         (2, "nope")], "id long, text string")
    out = {r["id"]: r for r in
           grok.grok_parse(df, "%{COMBINEDAPACHELOG}").collect()}
    assert out[1]["clientip"] == "1.2.3.4" and out[1]["response"] == "200"
    assert out[1]["referrer"] == '"http://ref.example/page"'
    assert out[1]["agent"] == '"Mozilla/5.0 (X11)"'
    assert out[2]["agent"] is None


def test_stream_pipeline_job_smoke_and_resume(spark, tmp_path):
    """jobs/stream_pipeline.py in subprocesses: first run drains every file
    into the ManifestTable exactly once (one snapshot per micro-batch);
    a resumed run over the same checkpoint commits exactly the new file's
    delta and never re-reads consumed batches."""
    import json
    import os
    import subprocess
    import sys

    from cefspark import fixtures

    src = str(tmp_path / "turns")
    t = fixtures.transcripts_df(spark, 600)
    t.where(F.col("turn_idx") % 2 == 0).coalesce(1).write.parquet(src)
    t.where(F.col("turn_idx") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)

    table, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")
    env = dict(os.environ)

    def run():
        r = subprocess.run(
            [sys.executable, "jobs/stream_pipeline.py", "--cpus", "4",
             "--input", src, "--table", table, "--checkpoint", ckpt,
             "--max-files-per-trigger", "1"],
            capture_output=True, text=True, timeout=420, env=env,
            cwd="/root/repo")
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    m1 = run()
    assert m1["n_batches"] == 2 and m1["snapshots_after"] == 2
    assert m1["n_input_rows"] == 600

    from cefspark.storage import ManifestTable
    mt = ManifestTable(table)
    assert mt.read_union(spark).count() == 600
    # routed rows carry the sink routing key
    assert "sink_id" in mt.read_union(spark).columns

    # delta arrives -> resumed run ingests exactly the new file
    t2 = fixtures.transcripts_df(spark, 100)
    t2.coalesce(1).write.mode("append").parquet(src)
    m2 = run()
    assert m2["snapshots_before"] == 2 and m2["snapshots_after"] == 3
    assert m2["n_input_rows"] == 100
    assert mt.read_union(spark).count() == 700


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """Materialized-count maintenance over a snapshot chain: after any
    interleaving of appends and maintenance runs, the rollup equals the
    full recompute; a run with no new snapshots is a no-op; only delta
    snapshot tokens join the ledger."""
    from cefspark.storage import ManifestTable, incremental_rollup

    src = ManifestTable(str(tmp_path / "facts"))
    roll = ManifestTable(str(tmp_path / "rollup"))

    def facts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 5).cast("string").alias("sink_id"))

    def rollup_dict():
        return {r["sink_id"]: r["n_events"]
                for r in roll.read(spark).collect()}

    def exact_dict():
        return {r["sink_id"]: r["n"] for r in
                src.read_union(spark).groupBy("sink_id")
                .agg(F.count("*").alias("n")).collect()}

    src.commit(facts(0, 100))
    src.commit(facts(100, 250))
    m1 = incremental_rollup(spark, src, roll, ["sink_id"])
    assert m1["n_new_snapshots"] == 2 and m1["n_groups"] == 5
    assert rollup_dict() == exact_dict()

    # no new data -> no-op, chain unchanged
    m2 = incremental_rollup(spark, src, roll, ["sink_id"])
    assert m2["n_new_snapshots"] == 0
    assert m2["snapshot_id"] == m1["snapshot_id"]

    # two more appends, one maintenance run folds exactly those two
    src.commit(facts(250, 260))
    src.commit(facts(260, 400))
    m3 = incremental_rollup(spark, src, roll, ["sink_id"])
    assert m3["n_new_snapshots"] == 2
    assert rollup_dict() == exact_dict()
    toks = {t for t in roll.consumed_inputs() if t.startswith("snapshot://")}
    assert len(toks) == 4

    # a THIRD effective run: the merge must fold the LATEST rollup only —
    # merging the whole rollup chain would re-add run-1's totals here
    # (130 vs 100-style compounding double count)
    src.commit(facts(400, 520))
    incremental_rollup(spark, src, roll, ["sink_id"])
    assert rollup_dict() == exact_dict()


def test_incremental_rollup_rebuilds_after_source_rewrite(spark, tmp_path):
    """A whole-table rewrite of the source (compact, delete_where) re-roots
    its chain under a new snapshot holding every row. The next maintenance
    run must rebuild the rollup from that chain, not add the whole table to
    the previous totals; later appends merge as before."""
    from cefspark.storage import ManifestTable, incremental_rollup

    src = ManifestTable(str(tmp_path / "facts"))
    roll = ManifestTable(str(tmp_path / "rollup"))

    def facts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 3).cast("string").alias("g"))

    def rollup_dict():
        return {r["g"]: r["n_events"] for r in roll.read(spark).collect()}

    def exact_dict():
        return {r["g"]: r["n"] for r in src.read_union(spark).groupBy("g")
                .agg(F.count("*").alias("n")).collect()}

    def ledger():
        return {t for t in roll.consumed_inputs() if t.startswith("snapshot://")}

    src.commit(facts(0, 30))
    src.commit(facts(30, 60))
    incremental_rollup(spark, src, roll, ["g"])
    assert rollup_dict() == {"0": 20, "1": 20, "2": 20}

    root = src.compact(spark)
    m = incremental_rollup(spark, src, roll, ["g"])
    assert m["n_new_snapshots"] == 1 and m["n_groups"] == 3
    assert rollup_dict() == {"0": 20, "1": 20, "2": 20} == exact_dict()
    assert ledger() == {f"snapshot://{root.snapshot_id}"}
    assert roll.snapshot().parent_id is None  # published re-rooted
    assert incremental_rollup(spark, src, roll, ["g"])["n_new_snapshots"] == 0

    src.commit(facts(60, 90))
    incremental_rollup(spark, src, roll, ["g"])
    assert rollup_dict() == {"0": 30, "1": 30, "2": 30} == exact_dict()

    src.delete_where(spark, "event_id < 6")
    incremental_rollup(spark, src, roll, ["g"])
    assert rollup_dict() == {"0": 28, "1": 28, "2": 28} == exact_dict()


def test_incremental_rollup_keeps_totals_after_source_expiry(spark, tmp_path):
    """expire_snapshots keeps the id of the snapshot it re-roots, so it is
    no rewrite: the rollup keeps its totals for the expired snapshots and
    the next run folds only the new append."""
    from cefspark.storage import ManifestTable, incremental_rollup

    src = ManifestTable(str(tmp_path / "facts"))
    roll = ManifestTable(str(tmp_path / "rollup"))

    def facts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 3).cast("string").alias("g"))

    def rollup_dict():
        return {r["g"]: r["n_events"] for r in roll.read(spark).collect()}

    src.commit(facts(0, 30))
    src.commit(facts(30, 60))
    incremental_rollup(spark, src, roll, ["g"])
    assert len(src.expire_snapshots(keep_last=1, orphan_grace_seconds=0)) == 1
    assert incremental_rollup(spark, src, roll, ["g"])["n_new_snapshots"] == 0
    assert rollup_dict() == {"0": 20, "1": 20, "2": 20}

    src.commit(facts(60, 90))
    m = incremental_rollup(spark, src, roll, ["g"])
    assert m["n_new_snapshots"] == 1 and m["n_groups"] == 3
    assert rollup_dict() == {"0": 30, "1": 30, "2": 30}
    assert roll.snapshot().parent_id is not None  # merged, not rebuilt


def test_read_union_tolerates_schema_evolution_and_partitioned_snapshots(spark, tmp_path):
    """Per-dir snapshot reads: a later commit may add a column (earlier
    rows read as NULL) and snapshots may be partitioned — both shapes a
    single multi-path parquet() call would reject or mis-infer."""
    from cefspark.storage import ManifestTable

    t = ManifestTable(str(tmp_path / "evo"))
    t.commit(spark.range(3).select(F.col("id").alias("event_id"),
                                   (F.col("id") % 2).cast("string").alias("sink_id")),
             partition_by=["sink_id"])
    t.commit(spark.range(3, 5).select(F.col("id").alias("event_id"),
                                      (F.col("id") % 2).cast("string").alias("sink_id"),
                                      F.lit("enriched").alias("tier")),
             partition_by=["sink_id"])
    out = t.read_union(spark)
    assert set(out.columns) == {"event_id", "sink_id", "tier"}
    rows = {r["event_id"]: r["tier"] for r in out.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "enriched", 4: "enriched"}


def test_throttle_rate_limits_per_key_window(spark):
    """Throttle: cap 2 per (key, hour) keeps the earliest two by
    (ts, event_id); NULL ts shares one rate-limited bucket; mark_only
    annotates without dropping; survivors are partitioning-invariant."""
    from cefspark import pipeline as pl

    rows = [
        (1, "a", "2026-01-01 10:00:05"), (2, "a", "2026-01-01 10:10:00"),
        (3, "a", "2026-01-01 10:20:00"),  # third in the 10:00 hour -> dropped
        (4, "a", "2026-01-01 11:01:00"),  # next hour resets the quota
        (5, "b", "2026-01-01 10:30:00"),
        (6, "a", None), (7, "a", None), (8, "a", None),  # NULL bucket capped too
    ]
    ev = spark.createDataFrame(rows, "event_id long, k string, sec string") \
        .select("event_id", "k", F.to_timestamp("sec").alias("ts"))

    kept = {r["event_id"] for r in
            pl.throttle(ev, ["k"], 2, ts_col="ts").collect()}
    assert kept == {1, 2, 4, 5, 6, 7}

    marked = {r["event_id"]: (r["throttle_rank"], r["throttle_kept"])
              for r in pl.throttle(ev, ["k"], 2, mark_only=True).collect()}
    assert marked[3] == (3, False) and marked[8] == (3, False)
    assert marked[1] == (1, True) and marked[4] == (1, True)
    assert len(marked) == len(rows)  # mark_only never drops

    again = {r["event_id"] for r in
             pl.throttle(ev.repartition(5), ["k"], 2).collect()}
    assert again == kept

    # one shuffle, on (key, time-bucket) — and no Python in the plan
    import re as _re
    plan = pl.throttle(ev, ["k"], 2)._jdf.queryExecution()         .executedPlan().toString()
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "EvalPython" not in plan

    import pytest as _pytest
    with _pytest.raises(ValueError):
        pl.throttle(ev, ["k"], 0)
    with _pytest.raises(ValueError, match="reserved"):
        pl.throttle(ev.withColumn("throttle_rank", F.lit(1)), ["k"], 2)


def test_upsert_and_delete_where_cow_semantics(spark, tmp_path):
    """Copy-on-write row-level ops: upsert replaces matched keys, keeps
    unmatched, inserts new; delete_where removes exactly the
    definitely-true rows (NULL predicate keeps); both re-root the chain
    (no double counting), carry resume tokens, and leave pre-rewrite
    snapshots time-travelable until expiry."""
    import time as _time

    from cefspark.storage import ManifestTable

    t = ManifestTable(str(tmp_path / "cow"))
    t.commit(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, sink string, v long"), inputs=["file:///in1"])
    t.commit(spark.createDataFrame(
        [(4, "d", 40)], "k long, sink string, v long"),
        inputs=["file:///in2"])
    t_before = _time.time()

    up = spark.createDataFrame(
        [(2, "b", 99), (5, "e", 50)], "k long, sink string, v long")
    snap = t.upsert(spark, up, ["k"])
    got = {r["k"]: r["v"] for r in t.read_union(spark).collect()}
    assert got == {1: 10, 2: 99, 3: 30, 4: 40, 5: 50}
    assert snap.parent_id is None          # re-rooted: no double count
    assert sorted(t.consumed_inputs()) == ["file:///in1", "file:///in2"]

    # pre-upsert state still time-travelable
    old = {r["k"]: r["v"]
           for r in t.read_union_as_of(spark, t_before).collect()}
    assert old == {1: 10, 2: 20, 3: 30, 4: 40}

    # delete: NULL predicate must KEEP the row (SQL DELETE semantics)
    t.upsert(spark, spark.createDataFrame(
        [(6, None, 60)], "k long, sink string, v long"), ["k"])
    snap2, n_deleted = t.delete_where(spark, "sink = 'b' OR v = 30")
    assert n_deleted == 2
    kept = {r["k"] for r in t.read_union(spark).collect()}
    assert kept == {1, 4, 5, 6}            # k=6 (NULL sink) survives

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ManifestTable(str(tmp_path / "empty")).delete_where(spark, "v = 1")


@pytest.mark.parametrize("rewrite", ["compact", "upsert", "delete_where",
                                     "drain"])
def test_rewrite_is_rerooted_when_latest_flips(spark, tmp_path, monkeypatch,
                                               rewrite):
    """A whole-table rewrite must never be visible chained to the history
    it already contains: whenever LATEST flips, the manifest it names has
    no parent, and its chain holds the rewritten table's rows once.
    Publishing the rewrite with the old chain as its parent and re-rooting
    it in a second manifest write double-counts every row through
    read_union in between, and for good if the process dies there."""
    from cefspark import dlq

    schema = "dlq_id long, payload string, dlq_error string"
    table = ManifestTable(str(tmp_path / "t"))
    for i in range(3):
        table.commit(spark.range(10 * i, 10 * i + 10).select(
            F.col("id").alias("dlq_id"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("payload"),
            F.lit("bad").alias("dlq_error")), inputs=[f"mem://{i}"])

    flips = []
    real_rename = os.rename

    def rename(src, dst):
        real_rename(src, dst)
        if os.path.basename(dst) == "LATEST":
            chain = table.chain()
            flips.append((chain[0].parent_id, sum(s.n_rows for s in chain)))

    monkeypatch.setattr(storage.os, "rename", rename)
    if rewrite == "compact":
        table.compact(spark)
        expected = 30
    elif rewrite == "upsert":
        table.upsert(spark, spark.createDataFrame(
            [(3, "p3", "fixed"), (30, "p30", "new")], schema), ["dlq_id"])
        expected = 31
    elif rewrite == "delete_where":
        table.delete_where(spark, "dlq_id < 5")
        expected = 25
    else:
        still = table.read_union(spark).withColumn(
            "error", F.lit(None).cast("string"))
        dlq.drain(spark, table, still, "drain-1")
        expected = 30
    monkeypatch.undo()

    assert flips == [(None, expected)]
    assert table.read_union(spark).count() == expected
    assert {"mem://0", "mem://1", "mem://2"} <= table.consumed_inputs()


def test_useragent_ordering_and_nulls(spark):
    """UA classification: specific-before-generic ordering (Edge/Opera over
    the Chrome token they contain, Chrome over its Safari token, iPad's
    'Mac OS X' loses to iOS), version extraction follows the matched
    family, NULL propagates, unknowns classify 'Other'; pure codegen."""
    from cefspark import useragent as ua

    rows = [
        (1, "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36 Edg/119.0"),
        (2, "Mozilla/5.0 (X11; Linux x86_64) Chrome/121.0.0.0 Safari/537.36"),
        (3, "Mozilla/5.0 (iPad; CPU OS 17_4 like Mac OS X) Version/17.4 Safari/604.1"),
        (4, "Mozilla/5.0 (Linux; Android 14) Chrome/120.0 Safari/537.36 OPR/85.0"),
        (5, "Mozilla/5.0 (Macintosh; Intel Mac OS X) Gecko/20100101 Firefox/124.0"),
        (6, "Googlebot/2.1 (+http://www.google.com/bot.html)"),
        (7, "weird client nobody knows"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_agent string")
    out = {r["event_id"]: (r["ua_family"], r["ua_major"], r["ua_os"])
           for r in ua.parse_user_agent(df).collect()}
    assert out[1] == ("Edge", "119", "Windows")
    assert out[2] == ("Chrome", "121", "Linux")
    assert out[3] == ("Safari", "17", "iOS")      # not macOS, not Chrome
    assert out[4] == ("Opera", "85", "Android")   # not Chrome, not Linux
    assert out[5] == ("Firefox", "124", "macOS")
    assert out[6] == ("Bot", "", "Other")
    assert out[7] == ("Other", "", "Other")
    assert out[8] == (None, None, None)

    plan = ua.parse_user_agent(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_build_rag_index_job_smoke_and_retrieval(tmp_path, spark):
    """jobs/build_rag_index.py in a subprocess: chunk -> hash-embed ->
    IVF index -> query; the planted on-topic document's chunk is the top
    hit and the index layout carries the list_id partitions."""
    import json
    import os
    import subprocess
    import sys

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(30)]
        + [(99, "catalyst shuffle optimizer partition skew salting "
                "broadcast join exchange codegen " * 4)],
        "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "rag")

    r = subprocess.run(
        [sys.executable, "jobs/build_rag_index.py", "--cpus", "4",
         "--input", src, "--out", out, "--chunk-size", "24",
         "--chunk-stride", "16", "--dim", "64", "--n-lists", "4",
         "--query", "optimizer shuffle skew broadcast"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    m = json.loads(r.stdout.strip().splitlines()[-1])
    assert m["n_docs"] == 31 and m["n_chunks"] >= 31
    assert m["hits"], "query returned no hits"
    assert m["hits"][0]["doc_id"] == 99        # on-topic doc wins
    # physical layout: probing == partition pruning on list_id dirs
    lists_dir = os.path.join(out, "lists")
    assert any(d.startswith("list_id=") for d in os.listdir(lists_dir))
    assert os.path.exists(os.path.join(out, "centroids.json"))


def test_incremental_rollup_hll_distinct_matches_exact(spark, tmp_path):
    """The monoid extension: with distinct_col set, the rollup carries a
    per-group HLL sketch merged across maintenance runs; at this
    cardinality the sketch is in exact (sparse) range, so the estimate
    must EQUAL the true per-group distinct after incremental folds."""
    from cefspark.storage import ManifestTable, incremental_rollup

    src = ManifestTable(str(tmp_path / "facts"))
    roll = ManifestTable(str(tmp_path / "rollup"))

    def facts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 3).cast("string").alias("sink_id"),
            # conv repeats across batches: distinct != count
            F.concat(F.lit("c"), (F.col("id") % 40).cast("string"))
            .alias("conv_id"))

    src.commit(facts(0, 120))
    src.commit(facts(120, 200))
    incremental_rollup(spark, src, roll, ["sink_id"], distinct_col="conv_id")
    src.commit(facts(200, 500))
    incremental_rollup(spark, src, roll, ["sink_id"], distinct_col="conv_id")

    got = {r["sink_id"]: (r["n_events"], r["approx"]) for r in
           roll.read(spark).select(
               "sink_id", "n_events",
               F.round(F.hll_sketch_estimate("conv_id_hll")).cast("long")
               .alias("approx")).collect()}
    exact = {r["sink_id"]: (r["n"], r["d"]) for r in
             src.read_union(spark).groupBy("sink_id")
             .agg(F.count("*").alias("n"),
                  F.count_distinct("conv_id").alias("d")).collect()}
    assert got == exact and len(got) == 3


def test_elapsed_pairing_statuses(spark):
    """The logstash elapsed filter, batch contract: matched pairs report
    duration; ends without starts, expired starts, and pre-start ends all
    classify deterministically (hand-computed corpus)."""
    import datetime as _dt

    from cefspark import pipeline

    t0 = _dt.datetime(2026, 1, 1)

    def at(m):
        return t0 + _dt.timedelta(minutes=m)

    rows = [
        ("tx1", "S", at(0)), ("tx1", "E", at(5)),          # matched 5 min
        ("tx2", "E", at(10)),                              # end w/o start
        ("tx3", "S", at(0)),                               # expired (no end)
        ("tx4", "S", at(0)), ("tx4", "E", at(60)),         # beyond timeout
        ("tx5", "E", at(0)), ("tx5", "S", at(10)),         # pre-start end
        ("tx5", "E", at(20)),                              #   ignored
        ("tx6", "X", at(0)),                               # untagged: absent
    ]
    df = spark.createDataFrame(rows, "id string, kind string, ts timestamp")
    out = {r["id"]: r for r in pipeline.elapsed(
        df, "id", F.col("kind") == "S", F.col("kind") == "E",
        timeout_s=600).collect()}

    assert set(out) == {"tx1", "tx2", "tx3", "tx4", "tx5"}
    assert (out["tx1"]["status"], out["tx1"]["elapsed_ms"]) == ("matched", 300000)
    assert (out["tx2"]["status"], out["tx2"]["start_ts"],
            out["tx2"]["end_ts"]) == ("end_without_start", None, at(10))
    assert (out["tx3"]["status"], out["tx3"]["end_ts"]) == ("expired", None)
    assert (out["tx4"]["status"], out["tx4"]["elapsed_ms"]) == ("expired", 3600000)
    assert (out["tx5"]["status"], out["tx5"]["elapsed_ms"],
            out["tx5"]["end_ts"]) == ("matched", 600000, at(20))

    # no timeout: an endless start is 'open', late ends match
    out2 = {r["id"]: r["status"] for r in pipeline.elapsed(
        df, "id", F.col("kind") == "S", F.col("kind") == "E").collect()}
    assert out2["tx3"] == "open" and out2["tx4"] == "matched"


def test_mutate_verb_chain(spark):
    """The logstash mutate filter as one Catalyst projection: every verb
    on a hand-built row, order-sensitive, try-cast error-as-data."""
    from cefspark.mutate import mutate

    df = spark.createDataFrame(
        [("10.0.0.1", "80", "tcp", " host1 ", "a,b,c", "hello 1234-5678-9012-3456",
          "x", ["t1"], ["t2"])],
        "src string, spt string, proto string, host string, tags_csv string, "
        "msg string, tmp string, tags_a array<string>, tags_b array<string>")
    out = mutate(df, [
        ("rename", "src", "source_ip"),
        ("convert", "spt", "integer"),
        ("gsub", "msg", r"\d{4}-\d{4}-\d{4}-\d{4}", "[card]"),
        ("uppercase", "proto"),
        ("split", "tags_csv", ","),
        ("join", "tags_csv", ";"),
        ("strip", "host"),
        ("copy", "msg", "msg_raw"),
        ("replace", "summary", "%{proto} from %{source_ip} (%{nope})"),
        ("merge", "tags_all", "tags_a", "tags_b"),
        ("remove", "tmp"),
    ]).collect()[0]
    assert out["source_ip"] == "10.0.0.1" and "src" not in out.asDict()
    assert out["spt"] == 80 and isinstance(out["spt"], int)
    assert out["msg"] == "hello [card]" and out["msg_raw"] == "hello [card]"
    assert out["proto"] == "TCP"
    assert out["tags_csv"] == "a;b;c"
    assert out["host"] == "host1"
    # uppercase ran BEFORE replace: order matters; unknown field verbatim
    assert out["summary"] == "TCP from 10.0.0.1 (%{nope})"
    assert out["tags_all"] == ["t1", "t2"]
    assert "tmp" not in out.asDict()

    # convert failure is error-as-data (NULL), never a thrown cast error
    bad = mutate(spark.createDataFrame([("x",)], "spt string"),
                 [("convert", "spt", "integer")]).collect()[0]
    assert bad["spt"] is None


def test_translate_exact_and_regex(spark):
    """translate: exact map lookup with default; regex mode first-match
    wins in dictionary order."""
    from cefspark.mutate import translate

    df = spark.createDataFrame(
        [("100",), ("200",), ("999",), (None,)], "code string")
    got = {r["code"]: r["action"] for r in translate(
        df, "code", {"100": "continue", "200": "ok"}, "action",
        default="unknown").collect()}
    assert got == {"100": "continue", "200": "ok", "999": "unknown",
                   None: "unknown"}

    df2 = spark.createDataFrame(
        [("GET /api/x",), ("POST /login",), ("PUT /y",)], "line string")
    got2 = {r["line"]: r["kind"] for r in translate(
        df2, "line", {"^GET": "read", "login": "auth", "^P": "write"},
        "kind", regex=True).collect()}
    # '/login' matches both 'login' and '^P' — dictionary order wins
    assert got2 == {"GET /api/x": "read", "POST /login": "auth",
                    "PUT /y": "write"}


def test_profile_extension_keys_flags_drift(spark):
    """Schema-drift profiling: canonical CEF keys count as known, a
    vendor-custom pass-through key is flagged unknown with its exact
    event count."""
    from cefspark import pipeline

    rows = [(i,
             "CEF:0|v|p|1|s|n|5|src=10.0.0.1 spt=80"
             + (" acmeNewField=x" if i % 3 == 0 else ""))
            for i in range(30)]
    df = spark.createDataFrame(rows, "i int, text string")
    dec = decode_dataframe(df)
    got = {r["key"]: (r["n_events"], r["known"]) for r in
           pipeline.profile_extension_keys(dec).collect()}
    assert got["sourceAddress"] == (30, True)
    assert got["sourcePort"] == (30, True)
    assert got["acmeNewField"] == (10, False)
    assert set(got) == {"sourceAddress", "sourcePort", "acmeNewField"}


def test_mutate_merge_ignores_null_sources(spark):
    """merge with a NULL source is a no-op for that source (logstash
    contract), never a NULL result."""
    from cefspark.mutate import mutate

    df = spark.createDataFrame([(["x"], None)],
                               "a array<string>, b array<string>")
    out = mutate(df, [("merge", "all", "a", "b")]).collect()[0]
    assert out["all"] == ["x"]


def test_mutate_round6_verbs(spark):
    """urldecode (failure keeps original), truncate (BYTES not chars),
    update (only-if-exists), coerce (only-if-null), capitalize (first
    char only — not initcap)."""
    from cefspark.mutate import mutate

    df = spark.createDataFrame(
        [("a%20b", "%zz", "héllo wörld", None, "two words")],
        "u string, bad string, t string, n string, c string")
    out = mutate(df, [
        ("urldecode", "u"),
        ("urldecode", "bad"),
        ("truncate", "t", 7),
        ("update", "u", "got %{u}"),
        ("update", "ghost", "never %{u}"),
        ("coerce", "n", "dflt"),
        ("coerce", "c", "nope"),
        ("capitalize", "c"),
    ]).collect()[0]
    assert out["u"] == "got a b"
    assert out["bad"] == "%zz"            # invalid escape: keep original
    # 'héllo w' is 8 bytes — the 7-byte cut lands after 'héllo ' + 'w'?
    # h(1)é(2)l(1)l(1)o(1)' '(1) = 7 bytes → exactly 'héllo '+nothing of w
    assert out["t"] == "héllo "
    assert "ghost" not in out.asDict()
    assert out["n"] == "dflt" and out["c"] == "Two words"

    # a mid-codepoint byte cut renders replacement chars, never throws
    r = mutate(spark.createDataFrame([("é",)], "t string"),
               [("truncate", "t", 1)]).collect()[0]
    assert r["t"] != "é" and r["t"] is not None

    # alter-filter verbs: set_if rewrites only on exact current value
    # (NULL never matches); set_other_if writes a DIFFERENT field
    alt = spark.createDataFrame(
        [("warn", "x"), ("info", "y"), (None, "z")], "lvl string, o string")
    got = {r["o"]: (r["lvl"], r["sev"]) for r in mutate(alt, [
        ("set_if", "lvl", "warn", "warning"),
        ("set_other_if", "lvl", "info", "sev", "low"),
    ]).collect()}
    assert got == {"x": ("warning", None), "y": ("info", "low"),
                   "z": (None, None)}


def test_mutate_json_encode_decode(spark):
    """json_encode serializes a complex field (in place or to a target);
    json_decode parses with an explicit schema, malformed -> NULL."""
    from cefspark.mutate import mutate

    df = spark.createDataFrame(
        [({"a": "1"}, '{"x": 5, "y": "ok"}'), ({"b": "2"}, "not json")],
        "m map<string,string>, j string")
    out = mutate(df, [
        ("json_encode", "m", "m_json"),
        ("json_decode", "j", "x BIGINT, y STRING", "parsed"),
    ]).collect()
    byj = {r["j"]: r for r in out}
    assert byj['{"x": 5, "y": "ok"}']["m_json"] == '{"a":"1"}'
    assert byj['{"x": 5, "y": "ok"}']["parsed"].asDict() == {"x": 5, "y": "ok"}
    p = byj["not json"]["parsed"]
    assert p is None or (p.x is None and p.y is None)   # error-as-data
    # in-place encode replaces the column
    ip = mutate(df, [("json_encode", "m")]).collect()[0]
    assert isinstance(ip["m"], str) and ip["m"].startswith("{")


def test_prune_and_de_dot(spark):
    """prune: whitelist-then-blacklist regex projection; de_dot renames
    dotted columns, collision raises; map-key variants compile to
    map_filter / transform_keys."""
    import pytest

    from cefspark.mutate import (de_dot, de_dot_map_keys, prune,
                                 prune_map_keys)

    df = spark.createDataFrame([(1, 2, 3, 4)],
                               "src_ip int, src_port int, dst_ip int, tmp int")
    assert prune(df, whitelist=[r"^src_", r"^dst_"]).columns == \
        ["src_ip", "src_port", "dst_ip"]
    assert prune(df, whitelist=[r"_ip$|_port$"],
                 blacklist=[r"port"]).columns == ["src_ip", "dst_ip"]
    with pytest.raises(ValueError, match="every column"):
        prune(df, whitelist=[r"^none$"])

    dd = spark.createDataFrame([(1, 2)], ["a.b", "c"])
    assert de_dot(dd).columns == ["a_b", "c"]
    with pytest.raises(ValueError, match="existing column"):
        de_dot(spark.createDataFrame([(1, 2)], ["a.b", "a_b"]))

    m = spark.createDataFrame(
        [({"src.ip": "1", "dst.ip": "2", "msg": "x"},)], "m map<string,string>")
    got = m.select(
        prune_map_keys(F.col("m"), whitelist=r"ip$",
                       blacklist=r"^dst").alias("p"),
        de_dot_map_keys(F.col("m")).alias("d")).collect()[0]
    assert got["p"] == {"src.ip": "1"}
    assert got["d"] == {"src_ip": "1", "dst_ip": "2", "msg": "x"}


def test_truncate_context_budget_crop(spark):
    """Trailing turns under the token budget survive; the final turn
    survives even alone over budget; whitespace token path works."""
    from cefspark.transcripts import truncate_context

    rows = [
        ("c1", 0, "a b c d e f"),      # 6 tokens — must be cropped
        ("c1", 1, "g h i"),            # 3
        ("c1", 2, "j k"),              # 2  -> suffix 2, 5 fit in 5
        ("c2", 0, "one two three four five six seven"),  # 7 > budget, solo
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = truncate_context(df, budget=5)
    got = {(r["conv_id"], r["turn_idx"]): r["suffix_tokens"]
           for r in out.collect()}
    assert got == {("c1", 2): 2, ("c1", 1): 5, ("c2", 0): 7}


def test_conditional_route_first_match_wins(spark):
    """Ordered if/else-if routing: first matching rule wins, NULL
    conditions never match, unmatched rows take the default."""
    import pytest

    from cefspark.pipeline import conditional_route

    df = spark.createDataFrame(
        [(10, "a"), (5, "a"), (5, None), (1, "b")], "sev int, v string")
    out = conditional_route(df, [
        (F.col("sev") >= 8, "pager"),
        (F.col("v") == "a", "audit"),      # sev=10 row must NOT land here
    ], default="archive")
    got = [(r["sev"], r["v"], r["route"]) for r in out.collect()]
    assert got == [(10, "a", "pager"), (5, "a", "audit"),
                   (5, None, "archive"), (1, "b", "archive")]
    with pytest.raises(ValueError, match="at least one"):
        conditional_route(df, [])


def test_dlq_quarantine_replay_drain(spark, tmp_path):
    """Dead-letter queue end-to-end: idempotent quarantine, replay after
    a mutate-style fix recovers the fixable rows, drain re-roots the
    queue to the unfixable remainder."""
    from cefspark import dlq
    from cefspark.storage import ManifestTable

    table = ManifestTable(str(tmp_path / "dlq"))
    good = "CEF:0|v|p|1|s|n|5|src=10.0.0.1"
    fixable = "CEF:0|v|p|1|s|n|5|msg=a\nb"      # embedded newline: D6 fail
    garbage = "not cef at all"
    df = spark.createDataFrame(
        [(1, good), (2, fixable), (3, garbage)], "i int, text string")
    dec = decode_dataframe(df)

    snap = dlq.quarantine(dec, table, "batch-1")
    assert snap is not None and snap.n_rows == 2
    assert dlq.quarantine(dec, table, "batch-1") is None   # idempotent
    df2 = spark.createDataFrame([(4, "also broken |")], "i int, text string")
    assert dlq.quarantine(decode_dataframe(df2), table, "batch-2").n_rows == 1
    assert table.read_union(spark).count() == 3

    fix = lambda d: d.withColumn(        # noqa: E731
        "payload", F.regexp_replace("payload", "\n", " "))
    recovered, still = dlq.replay(spark, table, fix=fix)
    rec = recovered.collect()
    assert len(rec) == 1 and rec[0]["extensions"]["message"] == "a b"
    assert still.count() == 2

    dlq.drain(spark, table, still, "drain-1")
    after = table.read_union(spark)
    assert after.count() == 2
    assert set(r["payload"] for r in after.collect()) == \
        {"not cef at all", "also broken |"}
    assert {"dlq://batch-1", "dlq://batch-2", "dlq://drain-1"} <= \
        table.consumed_inputs()
    # replaying the drained queue without a fix keeps everything failing
    r2, s2 = dlq.replay(spark, table)
    assert r2.count() == 0 and s2.count() == 2


def test_parse_byte_size_and_extract_numbers(spark):
    """bytes filter: binary vs metric modes, IEC infix always 1024,
    garbage NULL; extractnumbers: ordered decimals with signs."""
    import pytest

    from cefspark.textops import extract_numbers, parse_byte_size

    df = spark.createDataFrame(
        [("512",), ("2 kb",), ("2 KB",), ("2 KiB",), ("1.5 MiB",),
         ("3GB",), ("1 PB",), ("nope",), (None,)], "s string")
    binary = {r["s"]: r["b"] for r in df.select(
        "s", parse_byte_size(F.col("s"), "binary").alias("b")).collect()}
    metric = {r["s"]: r["b"] for r in df.select(
        "s", parse_byte_size(F.col("s"), "metric").alias("b")).collect()}
    assert binary["512"] == metric["512"] == 512.0
    assert binary["2 kb"] == binary["2 KB"] == binary["2 KiB"] == 2048.0
    assert metric["2 kb"] == metric["2 KB"] == 2000.0
    assert metric["2 KiB"] == 2048.0            # IEC infix wins
    assert binary["1.5 MiB"] == metric["1.5 MiB"] == 1572864.0
    assert binary["3GB"] == 3 * 1024 ** 3 and metric["3GB"] == 3e9
    assert binary["1 PB"] == 1024.0 ** 5 and metric["1 PB"] == 1e15
    assert binary["nope"] is None and binary[None] is None
    with pytest.raises(ValueError, match="binary|metric"):
        parse_byte_size(F.col("s"), "decimal")

    got = spark.createDataFrame(
        [("7 items at 3.5 each, cost -4 total",), ("none here",)],
        "t string").select(extract_numbers(F.col("t")).alias("a")).collect()
    assert got[0]["a"] == [7.0, 3.5, -4.0] and got[1]["a"] == []


def test_metricize_and_split_events(spark):
    """metricize: unpivot via one stack generator, NULL metrics skipped;
    split: array explode / literal-separator string split, empties
    dropped by default."""
    import pytest

    from cefspark.pipeline import metricize, split_events

    df = spark.createDataFrame(
        [("h1", 1.0, None, 3.0)],
        "host string, cpu double, mem double, io double")
    rows = metricize(df, ["cpu", "mem", "io"]).collect()
    assert {(r["metric"], r["value"]) for r in rows} == \
        {("cpu", 1.0), ("io", 3.0)}
    assert all(r["host"] == "h1" and "cpu" not in r.asDict() for r in rows)
    with pytest.raises(ValueError, match="not in frame"):
        metricize(df, ["nope"])

    s = spark.createDataFrame([("a\nb\n\nc", 1)], "lines string, k int")
    got = [r["lines"] for r in split_events(s, "lines").collect()]
    assert got == ["a", "b", "c"]
    # literal separator: '.' must not behave as regex-any
    dots = split_events(
        spark.createDataFrame([("x.y",)], "f string"), "f", sep=".")
    assert [r["f"] for r in dots.collect()] == ["x", "y"]
    arr = split_events(
        spark.createDataFrame([([1, 2], "z")], "a array<int>, t string"), "a")
    assert [r["a"] for r in arr.collect()] == [1, 2]
    with pytest.raises(ValueError, match="array or string"):
        split_events(s, "k")


def test_meter_rates_sliding_windows(spark):
    """metrics-filter rate meters: each event lands in window/slide
    overlapping windows, counts sum accordingly, rate_per_min = n/minutes,
    ragged window/slide combinations refused."""
    import datetime as dt

    import pytest

    from cefspark.pipeline import meter_rates

    base = dt.datetime(2026, 1, 1, 10, 7, 30)
    df = spark.createDataFrame(
        [("a", base), ("a", base + dt.timedelta(minutes=20)), ("b", base)],
        "sink_id string, ts timestamp")
    out = meter_rates(df, window="1 hour", slide="15 minutes")
    rows = out.collect()
    # every event appears in exactly 4 windows; the two 'a' events share
    # the windows that cover both 10:07:30 and 10:27:30
    assert sum(r["n_events"] for r in rows if r["sink_id"] == "a") == 8
    assert sum(r["n_events"] for r in rows if r["sink_id"] == "b") == 4
    both = [r for r in rows if r["sink_id"] == "a" and r["n_events"] == 2]
    assert {r["window_start"].minute for r in both} == {30, 45, 0}
    for r in rows:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600
        assert r["window_start"].minute % 15 == 0 and \
            r["window_start"].second == 0
        assert r["rate_per_min"] == r["n_events"] / 60.0

    with pytest.raises(ValueError, match="multiple"):
        meter_rates(df, window="1 hour", slide="7 minutes")


def test_drop_clone_uuid_primitives(spark):
    """drop (full + deterministic percentage mode), clone (explode
    fan-out, original tagged NULL), uuid (format + uniqueness)."""
    import re as _re

    import pytest

    from cefspark.pipeline import clone_events, drop_events, with_uuid

    df = spark.range(1000).withColumn(
        "sev", (F.col("id") % 4).cast("int"))
    kept = drop_events(df, F.col("sev") == 0)
    assert kept.count() == 750 and kept.where("sev = 0").count() == 0
    # NULL condition rows are KEPT (drop only what provably matches)
    nulls = spark.createDataFrame([(None,), (1,)], "sev int")
    assert drop_events(nulls, F.col("sev") == 0).count() == 2

    # percentage mode: deterministic across runs, roughly proportional
    half = drop_events(df, F.col("sev") == 0, percentage=50,
                       hash_cols=["id"])
    n1, n2 = half.count(), half.count()
    assert n1 == n2
    dropped = 250 - half.where("sev = 0").count()
    assert 75 <= dropped <= 175          # ~50% of the 250 matching
    assert half.where("sev != 0").count() == 750  # non-matching untouched
    with pytest.raises(ValueError, match="hash_cols"):
        drop_events(df, F.col("sev") == 0, percentage=50)

    cl = clone_events(spark.range(10), ["audit", "archive"])
    assert cl.count() == 30
    assert cl.where(F.col("clone_type").isNull()).count() == 10
    assert cl.where("clone_type = 'audit'").count() == 10
    with pytest.raises(ValueError, match="already exists"):
        clone_events(cl, ["x"])

    us = with_uuid(spark.range(50)).select("event_uuid").collect()
    vals = [r[0] for r in us]
    assert len(set(vals)) == 50
    assert all(_re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
        v) for v in vals)


def test_csv_xml_field_filters(spark):
    """logstash csv/xml filter parity: typed field extraction from a
    string column, quoted separators, attribute capture, PERMISSIVE
    null-fill on malformed payloads, collision refusal."""
    import pytest

    from cefspark.structured import parse_csv_field, parse_xml_field

    df = spark.createDataFrame(
        [(1, '7,"a,b",0.5'), (2, "garbage")], "event_id int, rec string")
    got = {r["event_id"]: r for r in parse_csv_field(
        df, "rec", "id BIGINT, msg STRING, v DOUBLE").collect()}
    assert (got[1]["id"], got[1]["msg"], got[1]["v"]) == (7, "a,b", 0.5)
    assert got[2]["id"] is None and got[2]["v"] is None

    # collision refusal + target= nesting escape hatch
    clash = df.withColumnRenamed("event_id", "id")
    with pytest.raises(ValueError, match="collide"):
        parse_csv_field(clash, "rec", "id BIGINT, v DOUBLE")
    nested = parse_csv_field(clash, "rec", "id BIGINT, v DOUBLE",
                             target="p").collect()[0]
    assert nested["p"]["id"] is not None or nested["p"]["v"] is None

    xdf = spark.createDataFrame(
        [(1, '<e id="9"><m>hi</m><v>2.5</v></e>'), (2, "<broken")],
        "event_id int, doc string")
    gx = {r["event_id"]: r for r in parse_xml_field(
        xdf, "doc", "_id BIGINT, m STRING, v DOUBLE").collect()}
    assert (gx[1]["_id"], gx[1]["m"], gx[1]["v"]) == (9, "hi", 2.5)
    assert gx[2]["_id"] is None and gx[2]["m"] is None

    # DDL field-name parsing survives parameterized types
    ok = parse_csv_field(
        spark.createDataFrame([("1.23|x",)], "rec string"),
        "rec", "d DECIMAL(10,2), s STRING", sep="|").collect()[0]
    assert str(ok["d"]) == "1.23" and ok["s"] == "x"


def test_syslog_pri_decomposition(spark):
    """<PRI> decomposition: RFC arithmetic + logstash default labels;
    out-of-range and missing tags are error-as-data (NULLs, line kept)."""
    from cefspark.syslog_pri import parse_syslog_pri

    df = spark.createDataFrame(
        [("<34>Oct 11 host su: fail",),   # fac 4 sev 2
         ("<0>kernel panic",),            # both zero
         ("<191>local7 debug",),          # max legal
         ("<192>too big",),               # out of range
         ("no tag here",),
         ("<7x>not a tag",)],
        "message string")
    rows = parse_syslog_pri(df, "message").collect()
    by = {r["message"]: r for r in rows}
    r = by["Oct 11 host su: fail"]
    assert (r["syslog_pri"], r["syslog_facility_code"],
            r["syslog_severity_code"]) == (34, 4, 2)
    assert r["syslog_facility"] == "security/authorization"
    assert r["syslog_severity"] == "critical"
    assert by["kernel panic"]["syslog_facility"] == "kernel"
    assert by["kernel panic"]["syslog_severity"] == "emergency"
    assert by["local7 debug"]["syslog_facility"] == "local7"
    assert by["local7 debug"]["syslog_severity"] == "debug"
    for bad in ("<192>too big", "no tag here", "<7x>not a tag"):
        assert by[bad]["syslog_pri"] is None
        assert by[bad]["syslog_facility"] is None


def test_incremental_rollup_distinct_col_consistency_guard(spark, tmp_path):
    """Toggling distinct_col between maintenance runs must raise loudly in
    BOTH directions — silently dropping (or delta-only restarting) the
    accumulated sketches would corrupt the estimates."""
    import pytest

    from cefspark.storage import ManifestTable, incremental_rollup

    src = ManifestTable(str(tmp_path / "facts"))
    roll = ManifestTable(str(tmp_path / "rollup"))

    def facts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 3).cast("string").alias("sink_id"),
            F.concat(F.lit("c"), (F.col("id") % 9).cast("string"))
            .alias("conv_id"))

    src.commit(facts(0, 60))
    incremental_rollup(spark, src, roll, ["sink_id"], distinct_col="conv_id")
    src.commit(facts(60, 150))
    with pytest.raises(ValueError, match="silently drop"):
        incremental_rollup(spark, src, roll, ["sink_id"])

    src2 = ManifestTable(str(tmp_path / "facts2"))
    roll2 = ManifestTable(str(tmp_path / "rollup2"))
    src2.commit(facts(0, 60))
    incremental_rollup(spark, src2, roll2, ["sink_id"])
    src2.commit(facts(60, 150))
    with pytest.raises(ValueError, match="FIRST maintenance run"):
        incremental_rollup(spark, src2, roll2, ["sink_id"],
                           distinct_col="conv_id")


def test_commit_sort_cols_layout(spark, tmp_path):
    """sort_cols on ManifestTable.commit writes the snapshot in range
    layout: per-file footer intervals on the sort key are disjoint."""
    import glob

    import pyarrow.parquet as pq

    from cefspark.storage import ManifestTable

    t = ManifestTable(str(tmp_path / "laid_out"))
    df = spark.range(0, 20000).select(
        F.xxhash64("id").alias("scramble"), F.col("id").alias("event_id"))
    df = df.repartition(8, "scramble").drop("scramble")
    snap = t.commit(df, sort_cols=["event_id"], n_files=8)

    ranges = []
    for f in sorted(glob.glob(snap.data_dir + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        cols = [md.row_group(g).column(0) for g in range(md.num_row_groups)]
        ranges.append((min(c.statistics.min for c in cols),
                       max(c.statistics.max for c in cols)))
    ranges.sort()
    assert len(ranges) == 8
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(7))
    assert t.read(spark).count() == 20000


def test_apply_filters_config_chain(spark):
    """config.apply_filters: an ordered logstash-shaped filter list
    compiles to the library operators; compile-time failures on unknown
    filters/options."""
    import pytest

    from cefspark.config import apply_filters

    df = spark.createDataFrame(
        [(1, '10.0.0.1 - u1 [10/Oct/2025:13:55:36 +0000] '
             '"GET /a HTTP/1.0" 200 55'),
         (2, '10.0.0.2 - u2 [10/Oct/2025:13:55:37 +0000] '
             '"GET /b HTTP/1.0" 500 -')],
        "i int, text string")
    out = apply_filters(df, [
        {"grok": {"match": "%{COMMONAPACHELOG}"}},
        {"mutate": {"ops": [["convert", "response", "integer"],
                            ["remove", "ident", "auth", "httpversion"]]}},
        {"translate": {"source": "response", "target": "klass",
                       "dictionary": {"200": "ok"}, "default": "err"}},
        {"drop": {"where": "klass = 'err'"}},
        {"prune": {"whitelist": ["^(i|clientip|response|klass)$"]}},
    ])
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["i"], r["clientip"], r["response"], r["klass"]) == \
        (1, "10.0.0.1", 200, "ok")
    assert set(out.columns) == {"i", "clientip", "response", "klass"}

    # fingerprint + aggregate through the declarative table
    fa = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", {"k": "v1"}),
         (1, "2024-01-01 00:00:01", {"k": "v2"})],
        "task long, ts string, map map<string,string>") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out3 = apply_filters(fa, [
        {"fingerprint": {"sources": ["task"], "method": "MD5"}},
        {"aggregate": {"task_id": "task"}},
    ]).collect()
    assert len(out3) == 1 and out3[0]["task_map"] == {"k": "v2"}

    with pytest.raises(ValueError, match="unknown filter"):
        apply_filters(df, [{"geoip2": {}}])
    with pytest.raises(ValueError, match="unknown option"):
        apply_filters(df, [{"grok": {"match": "%{INT:x}", "anchor": True}}])
    with pytest.raises(ValueError, match="single-key"):
        apply_filters(df, [{"grok": {}, "kv": {}}])

    # chained generators + unpivot verbs work through the table too
    m = spark.createDataFrame([("h", 1.0, 2.0, "a\nb")],
                              "host string, cpu double, mem double, lines string")
    out2 = apply_filters(m, [
        {"metricize": {"metrics": ["cpu", "mem"]}},
        {"split": {"field": "lines"}},
        {"clone": {"clones": ["audit"]}},
    ])
    assert out2.count() == 2 * 2 * 2


def test_funnel_order_enforced(spark):
    """Funnel steps must occur in order: a click BEFORE the first view
    does not count; min-ts semantics pick the earliest qualifying event;
    keys that never reach step 1 are absent."""
    import datetime as dt

    import pytest

    from cefspark.pipeline import funnel

    b = dt.datetime(2026, 1, 1)
    m = lambda k: b + dt.timedelta(minutes=k)     # noqa: E731
    rows = [
        # u1: view@1, click@2, purchase@3 -> 3 steps
        ("u1", "view", m(1)), ("u1", "click", m(2)), ("u1", "purchase", m(3)),
        # u2: click@1 BEFORE view@2 -> click must not count; 1 step
        ("u2", "click", m(1)), ("u2", "view", m(2)),
        # u3: no view at all -> absent
        ("u3", "click", m(1)), ("u3", "purchase", m(2)),
        # u4: view@1, purchase@2 without click -> 1 step (order enforced)
        ("u4", "view", m(1)), ("u4", "purchase", m(2)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    out = funnel(df, [F.col("event_type") == "view",
                      F.col("event_type") == "click",
                      F.col("event_type") == "purchase"])
    got = {r["user_id"]: r["steps_reached"] for r in out.collect()}
    assert got == {"u1": 3, "u2": 1, "u4": 1}
    with pytest.raises(ValueError, match="at least one"):
        funnel(df, [])


def test_retention_cohorts_offsets(spark):
    """Cohort = first active period; offset 0 row equals cohort size;
    multiple events in one period count once."""
    import datetime as dt

    from cefspark.pipeline import retention_cohorts

    day = 86400
    b = dt.datetime(2026, 1, 1)   # epoch-day boundary-safe (midnight UTC)
    rows = [
        ("a", b), ("a", b + dt.timedelta(hours=3)),       # day 0 twice
        ("a", b + dt.timedelta(days=2)),                  # day 2
        ("b", b + dt.timedelta(hours=1)),                 # day 0 only
        ("c", b + dt.timedelta(days=2)),                  # cohort day 2
        ("c", b + dt.timedelta(days=3)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = retention_cohorts(df, period_seconds=day)
    d0 = (b - dt.datetime(1970, 1, 1)).days
    got = {(r["cohort"], r["offset"]): r["n_keys"] for r in out.collect()}
    assert got == {(d0, 0): 2, (d0, 2): 1, (d0 + 2, 0): 1, (d0 + 2, 1): 1}


def test_grok_extra_patterns(spark):
    """pattern_definitions parity: caller-supplied base patterns resolve,
    override builtins, and reject capturing groups."""
    import pytest

    from cefspark.grok import grok_parse

    df = spark.createDataFrame([("TKT-1234 closed",), ("nope",)], "text string")
    out = {r["text"]: r["tid"] for r in grok_parse(
        df, r"%{TICKET:tid} %{WORD:state}",
        extra_patterns={"TICKET": r"TKT-\d+"}).collect()}
    assert out == {"TKT-1234 closed": "TKT-1234", "nope": None}

    # override a BUILTIN: a narrowed INT that only accepts 2 digits
    o2 = {r["text"]: r["n"] for r in grok_parse(
        df.withColumn("text", F.lit("42")).limit(1), r"%{INT:n:int}",
        extra_patterns={"INT": r"\d{2}"}).collect()}
    assert o2 == {"42": 42}

    with pytest.raises(ValueError, match="capturing group"):
        grok_parse(df, "%{BAD:x}", extra_patterns={"BAD": r"(a)"})


def test_parse_date_field_multi_format(spark):
    """date filter: first matching format wins; UNIX/UNIX_MS/ISO8601
    specials; unparsable -> NULL."""
    import datetime as dt

    import pytest

    from cefspark.structured import parse_date_field

    df = spark.createDataFrame(
        [("2026-01-02 03:04:05",), ("02/Jan/2026:03:04:05",),
         ("1767323045",), ("1767323045123",), ("garbage",), (None,)],
        "message string")
    out = parse_date_field(df, "message", [
        "yyyy-MM-dd HH:mm:ss", "dd/MMM/yyyy:HH:mm:ss", "UNIX_MS", "UNIX"])
    got = {r["message"]: r["event_ts"] for r in out.collect()}
    want = dt.datetime(2026, 1, 2, 3, 4, 5)
    assert got["2026-01-02 03:04:05"] == want
    assert got["02/Jan/2026:03:04:05"] == want
    assert got["1767323045123"] == dt.datetime.utcfromtimestamp(1767323045.123)
    # 10-digit epoch: UNIX_MS comes first in the list and also parses it
    # (as 1970) — order matters, exactly the logstash pitfall; flip order
    out2 = parse_date_field(
        df.where("message IS NULL OR length(message) != 13"),
        "message", ["UNIX", "UNIX_MS"])
    got2 = {r["message"]: r["event_ts"] for r in out2.collect()}
    assert got2["1767323045"] == dt.datetime.utcfromtimestamp(1767323045)
    assert got["garbage"] is None and got[None] is None
    with pytest.raises(ValueError, match="at least one"):
        parse_date_field(df, "message", [])

    # through the config compiler
    from cefspark.config import apply_filters
    cfg = apply_filters(df.limit(1), [
        {"date": {"match": ["yyyy-MM-dd HH:mm:ss"], "target": "ts2"}}])
    assert cfg.collect()[0]["ts2"] == want


# --- enrich dims as local relations; commit row counts ----------------------

#: edge rows for enrich: a known vendor, an unknown vendor, an empty vendor,
#: severity "11" (no band), a word severity, and three parse failures
ENRICH_EDGE_LINES = [
    "CEF:0|security|threatmanager|1.0|100|known|10|src=10.0.0.1",
    "CEF:0|NoSuchVendor|p|1.0|100|unknown vendor|5|src=10.0.0.2",
    "CEF:0||p|1.0|100|empty vendor|3|src=10.0.0.3",
    "CEF:0|acme|p|1.0|100|severity eleven|11|src=10.0.0.4",
    "CEF:0|Imperva|p|1.0|100|word severity|High|",
    "garbage", "", "CEF:0|a|b",
]


def _enrich_with_list_dims(decoded, spark):
    """enrich as it stood with list-built dimension tables (each a Python
    RDD leaf): the reference the local-relation dims must reproduce."""
    vendors = spark.createDataFrame(
        pipeline.VENDOR_TIERS, "deviceVendor string, vendor_tier string")
    bands = spark.createDataFrame(
        pipeline.severity_band_rows(), "severity string, severity_band string")
    return (decoded
            .join(F.broadcast(vendors), on="deviceVendor", how="left")
            .join(F.broadcast(bands), on="severity", how="left")
            .withColumn("vendor_tier", F.coalesce("vendor_tier", F.lit("unknown")))
            .withColumn("severity_band", F.coalesce("severity_band", F.lit("unknown"))))


def test_enrich_matches_list_built_dims(spark):
    """Same rows, column order and schema as the list-built join, over an
    unknown vendor, a NULL vendor, severity "11" and parse failures."""
    lines = pd.DataFrame({"conv_id": range(len(ENRICH_EDGE_LINES)),
                          "text": ENRICH_EDGE_LINES})
    decoded = (decode_dataframe(spark.createDataFrame(lines))
               .select("conv_id", "deviceVendor", "severity", "error"))
    # decode never yields a NULL vendor without an error; add one by hand
    decoded = decoded.unionByName(spark.createDataFrame(
        [(99, None, "7", None)],
        "conv_id long, deviceVendor string, severity string, error string"))
    got, want = pipeline.enrich(decoded, spark), _enrich_with_list_dims(decoded, spark)
    assert got.columns == want.columns
    assert got.schema == want.schema
    rows = sorted(got.collect(), key=lambda r: r["conv_id"])
    assert rows == sorted(want.collect(), key=lambda r: r["conv_id"])
    by_id = {r["conv_id"]: (r["vendor_tier"], r["severity_band"]) for r in rows}
    assert by_id[0] == ("tier1", "high")
    assert by_id[1] == ("unknown", "med")
    assert by_id[3] == ("tier3", "unknown")      # severity "11" has no band
    assert by_id[5] == ("unknown", "unknown")    # parse failure
    assert by_id[99] == ("unknown", "high")      # NULL vendor


def test_enrich_dims_plan_as_local_relations(spark, tmp_path):
    """Both broadcast sides of route(enrich(...)) are local table scans: no
    Python-RDD leaf, so a broadcast runs no Python job."""
    path = str(tmp_path / "in")
    spark.createDataFrame(fixtures.transcripts_pdf(50)).write.parquet(path)
    routed = pipeline.route(pipeline.enrich(
        decode_dataframe(spark.read.parquet(path)), spark))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") == 2
    assert "Scan ExistingRDD" not in plan
    assert plan.count("BroadcastHashJoin") == 2


@pytest.mark.parametrize("layout", ["plain", "partition_by", "sort_cols",
                                    "empty", "no_partitions"])
def test_commit_counts_rows_in_its_write(spark, tmp_path, layout):
    """commit's n_rows equals a read-back count of the snapshot, for every
    write layout and for empty frames."""
    df = spark.range(0, 1000, numPartitions=4).select(
        "id", (F.col("id") % 7).cast("string").alias("k"))
    kwargs = {"partition_by": {"partition_by": ["k"]},
              "sort_cols": {"sort_cols": ["id"], "n_files": 3}}.get(layout, {})
    if layout == "empty":
        df = df.where("id < 0")
    elif layout == "no_partitions":
        df = spark.range(0).select("id", F.lit("x").alias("k"))
    snap = ManifestTable(str(tmp_path / "t")).commit(df, **kwargs)
    back = spark.read.schema(df.schema).parquet(snap.data_dir).count()
    assert snap.n_rows == back == (0 if layout in ("empty", "no_partitions") else 1000)


def test_exactly_once_sink_manifests_sum_to_rows_fed(spark, tmp_path):
    """Each micro-batch's manifest carries its row count; over the chain
    they sum to the rows fed."""
    from cefspark import streaming

    src = str(tmp_path / "in")
    for lo in (0, 300, 700):
        spark.range(lo, lo + 100 + lo // 10).coalesce(1).write.mode(
            "append").parquet(src)
    fed = spark.read.parquet(src).count()
    table = ManifestTable(str(tmp_path / "t"))
    stream = (spark.readStream.schema("id long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming.exactly_once_sink(stream, table, "eo_counts",
                                    str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    chain = table.chain()
    assert len(chain) == 3
    assert sum(s.n_rows for s in chain) == fed == table.read_union(spark).count()


_RETRY_SCRIPT = """
import sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from cefspark.storage import ManifestTable

spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false").getOrCreate())

@F.udf("long")
def flaky(x):
    ctx = TaskContext.get()
    # fail the first attempt of partition 0 mid-way, after some of its
    # rows have been processed
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and x == 150:
        raise RuntimeError("injected task failure")
    return x

df = spark.range(0, 400, numPartitions=2).select(flaky("id").alias("id"))
snap = ManifestTable(sys.argv[1]).commit(df)
print(snap.n_rows, spark.read.parquet(snap.data_dir).count())
spark.stop()
"""


def test_commit_count_exact_under_task_retry(tmp_path):
    """A task that fails after some rows and is retried is counted once:
    n_rows equals the read-back (local[2,2]: two attempts)."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run([sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "t")],
                       capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "injected task failure" in r.stderr  # the retry really happened
    n_rows, back = map(int, r.stdout.split()[-2:])
    assert n_rows == back == 400


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the stdlib invalidation is lazy from 3.13 on")
def test_zipimporter_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Importing cefspark makes zipimporter.invalidate_caches skip the
    directory read while the archive is unchanged, and keeps every importer
    of a rewritten archive re-reading it."""
    import zipfile
    import zipimport

    import cefspark  # noqa: F401  (installs the guard)

    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m_a.py", "A = 1\n")
    importers = [zipimport.zipimporter(path), zipimport.zipimporter(path)]
    for zi in importers:
        zi.invalidate_caches()          # an importer's first call reads

    reads, real = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    for zi in importers:
        zi.invalidate_caches()
    assert reads == []
    assert all(zi.find_spec("m_a") is not None for zi in importers)

    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m_a.py", "A = 1\n")
        z.writestr("m_b.py", "B = 2\n")
    for zi in importers:
        zi.invalidate_caches()
    assert reads == [path] * len(importers)
    assert all(zi.find_spec("m_b") is not None for zi in importers)


def test_udf_worker_skips_unchanged_zip_directory_reads(spark):
    """Inside a UDF worker that has imported cefspark, a repeated
    importlib.invalidate_caches() reads no zip directory."""
    lines = spark.createDataFrame(pd.DataFrame(
        {"conv_id": range(8), "text": ENRICH_EDGE_LINES[:1] * 8}))
    decode_dataframe(lines).select("deviceVendor").collect()

    @F.pandas_udf("second_reads long, zip_importers long")
    def probe(text: pd.Series) -> pd.DataFrame:
        import importlib
        import zipimport

        decode_batch(text)  # a cefspark UDF, as decode_cef is
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        reads, real = [], zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pd.DataFrame({"second_reads": [len(reads)] * len(text),
                             "zip_importers": [n_zip] * len(text)})

    rows = (lines.repartition(2).select(probe("text").alias("p"))
            .select("p.*").collect())
    if max(r["zip_importers"] for r in rows) == 0:
        pytest.skip("pyspark is imported from a directory, not from a zip")
    assert [r["second_reads"] for r in rows] == [0] * len(rows)
