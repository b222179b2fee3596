"""Physical-plan audits: the 100-TB-relevant properties must hold in the
executed plans, not just in intent — broadcast joins for dimension enrich,
partial (map-side) aggregation for counts, filter/column pushdown into scans,
and no unexpected shuffles in narrow pipelines."""

import pytest
from pyspark.sql import functions as F

from cefspark import fixtures, pipeline, textops
from cefspark.udfs import decode_dataframe, ext

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(fixtures.transcripts_pdf(400))


def test_enrich_uses_broadcast_joins(spark, transcripts):
    routed = pipeline.route(pipeline.enrich(decode_dataframe(transcripts), spark))
    plan = plan_of(routed)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_sink_counts_partial_aggregation_and_single_shuffle(spark, transcripts):
    routed = pipeline.route(pipeline.enrich(decode_dataframe(transcripts), spark))
    counts = pipeline.sink_counts(routed)
    plan = plan_of(counts)
    # partial + final hash aggregate around exactly one shuffle (broadcast
    # exchanges for the dimension joins don't count)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_meter_rates_partial_aggregation_single_shuffle(spark, transcripts):
    """The sliding-window meter must keep the tumbling aggregate's shape:
    the window/slide replication is a generator INSIDE the scan stage,
    partial aggregation collapses it map-side, and exactly one hash
    exchange carries O(keys x windows) rows — not events x overlap."""
    routed = pipeline.route(pipeline.enrich(decode_dataframe(transcripts), spark))
    meters = pipeline.meter_rates(routed, ts_col="ts",
                                  window="1 hour", slide="15 minutes")
    plan = plan_of(meters)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # the replication is the window generator (Expand), pre-shuffle
    assert "Expand" in plan


def test_syslog_pri_and_structured_stay_codegen(spark):
    """The new field filters must never leave whole-stage codegen: no
    Python eval nodes, no shuffles — one projection over the scan."""
    from cefspark.structured import parse_csv_field, parse_xml_field
    from cefspark.syslog_pri import parse_syslog_pri

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", F.col("props").alias("message"))
    for df in (
        parse_syslog_pri(ev, "message"),
        parse_csv_field(ev, "message", "a INT, b STRING", target="p"),
        parse_xml_field(ev, "message", "a INT, b STRING", target="p"),
    ):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan


def test_decode_projection_prunes_unused_columns(spark):
    # reading parquet and touching only 2 columns must prune the schema
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type")
    plan = plan_of(ev)
    assert "ReadSchema: struct<event_id:bigint,event_type:string>" in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 10)
    plan = plan_of(docs)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)" in plan


def test_textops_stay_whole_stage_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = textops.quality_metrics(docs)
    plan = plan_of(q)
    # '*' prefix on operators marks whole-stage-codegen spans in plan strings
    assert plan.lstrip().startswith("*(")
    assert "Exchange" not in plan          # narrow: no shuffle at all
    assert "BatchEvalPython" not in plan   # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan   # not even a pandas UDF


def test_decode_is_single_arrow_stage(spark, transcripts):
    dec = decode_dataframe(transcripts).select("deviceVendor", ext("sourceAddress"))
    plan = plan_of(dec)
    assert plan.count("ArrowEvalPython") == 1   # one UDF boundary
    assert "BatchEvalPython" not in plan        # never row-at-a-time
    assert "Exchange" not in plan               # decode is narrow


def test_salted_repartition_partitions_by_sink_and_salt(spark, transcripts):
    routed = pipeline.route(pipeline.enrich(decode_dataframe(transcripts), spark))
    salted = pipeline.salted_repartition(routed, salt_buckets=4, num_partitions=8)
    assert "hashpartitioning(sink_id" in plan_of(salted)


def test_decode_failure_branch_no_extra_udf_calls(spark, transcripts):
    # selecting two decoded columns must not evaluate the UDF twice
    dec = decode_dataframe(transcripts)
    plan = plan_of(dec.select("deviceVendor", "severity", "error"))
    assert plan.count("ArrowEvalPython") == 1


def test_flagship_plan_shape(spark, transcripts):
    """The end-to-end flagship (decode -> enrich -> route -> windowed counts)
    must be: exactly one Arrow UDF boundary, two broadcast joins, one shuffle."""
    counts = pipeline.sink_counts(
        pipeline.route(pipeline.enrich(decode_dataframe(transcripts), spark)))
    plan = plan_of(counts)
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_set_ops_decodes_once(spark):
    # the two exceptAll legs read the persisted decode: exactly one
    # ArrowEvalPython in the executed plan, not one per leg
    from cefspark.queries import _set_ops_lazy, q_set_ops

    df, ev = _set_ops_lazy(spark, SF)
    try:
        plan = plan_of(df)
        # both legs read the (single, shared) InMemoryRelation; the decode UDF
        # appears only inside the cached subtree, so it executes once at cache
        # materialization — never in the live section of the plan
        assert plan.count("InMemoryTableScan") == 2
        live = plan.split("InMemoryRelation", 1)[0]
        assert "ArrowEvalPython" not in live
    finally:
        ev.unpersist()
        spark.catalog.clearCache()

    # the registry entry materializes eagerly and drops its decode cache —
    # repeated gate/bench invocations must not accumulate cached relations.
    # The persisted decode relation's storage name is its plan string (it
    # contains the Arrow decode UDF + the cef struct projection); only the
    # tiny localCheckpoint RDD of the RESULT may remain afterwards.
    out = q_set_ops(spark, SF)
    assert out.count() > 0
    leaked = [r.name() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
              if "ArrowEvalPython" in r.name() or "cef#" in r.name()]
    assert not leaked, leaked


def test_hamming_pairs_join_keys_have_high_cardinality(spark):
    # the simhash candidate join must key on >= 16-bit composites — never a
    # bare 8-bit block (the O(N^2/256) degeneracy) — for both radii
    from cefspark import dedup

    sim = spark.range(64).select(F.col("id").alias("doc_id"),
                                 F.xxhash64("id").alias("simhash"))
    for max_dist, n_keyparts in ((3, 4), (6, 28)):
        plan = optimized_of(dedup.hamming_pairs(sim, max_dist=max_dist))
        # join condition carries the composite (c, k1, k2) key columns
        for col in ("c", "k1", "k2"):
            assert f"{col}#" in plan
    # 16-bit extraction present: mask 65535 for d<=3, pair scheme for d<=6
    assert "65535" in optimized_of(dedup.hamming_pairs(sim, max_dist=3))


def test_emb_neardup_registry_plan_is_bucketed(spark):
    from cefspark.queries import q_emb_neardup_cosine

    plan = plan_of(q_emb_neardup_cosine(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_redaction_stays_whole_stage_codegen(spark):
    # PII redaction must be pure JVM expression work: no Python eval node,
    # no shuffle — a narrow projection that composes with any write
    from cefspark import redact

    df = redact.pii_redact(redact.pii_docs(spark, 50))
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert "*(1)" in plan  # single whole-stage-codegen span


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the eval-suite shingle side must BROADCAST; the training side's
    # shingle volume must never sort-merge
    from cefspark import dedup

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id")).alias("text"))
    bench = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id")).alias("text"))
    plan = plan_of(dedup.decontaminate(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rate_spikes_broadcast_median_join(spark):
    # per-sink medians join back by BROADCAST over the aggregated counts
    counts = spark.createDataFrame(
        [("s", "2026-01-01 00:00:00", 5)] * 3,
        "sink_id string, window_start string, n_events long")
    counts = counts.withColumn("window_start",
                               F.col("window_start").cast("timestamp"))
    plan = plan_of(pipeline.detect_rate_spikes(counts))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located bucketed join: two tables bucketed identically on the
    join key join with ZERO Exchange — and with sortBy, zero Sort on the
    scan sides too. The catalog metadata (not the directory layout) is
    what the planner trusts, so write_bucketed goes through saveAsTable."""
    from cefspark import storage

    spark.sql("DROP TABLE IF EXISTS bkt_docs")
    spark.sql("DROP TABLE IF EXISTS bkt_scores")
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"))
    scores = spark.range(10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("score"))
    storage.write_bucketed(docs, "bkt_docs", ["doc_id"], n_buckets=8,
                           sort_cols=["doc_id"],
                           path=str(tmp_path / "bkt_docs"))
    storage.write_bucketed(scores, "bkt_scores", ["doc_id"], n_buckets=8,
                           sort_cols=["doc_id"],
                           path=str(tmp_path / "bkt_scores"))
    # force the large-x-large join shape (small fixtures would broadcast,
    # where bucketing is irrelevant — the planner even annotates the scan
    # 'Bucketed: false (disabled by query planner)' under a broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_docs").join(spark.table("bkt_scores"),
                                              "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       old_aqe)
    # mismatched bucket counts: the planner must still produce correct
    # results (with a shuffle on one side) — correctness never depends on
    # the optimization applying
    spark.sql("DROP TABLE IF EXISTS bkt_scores4")
    storage.write_bucketed(scores, "bkt_scores4", ["doc_id"], n_buckets=4,
                           path=str(tmp_path / "bkt_scores4"))
    j2 = spark.table("bkt_docs").join(spark.table("bkt_scores4"), "doc_id")
    assert j2.count() == 10_000
    for t in ("bkt_docs", "bkt_scores", "bkt_scores4"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_range_sorted_disjoint_footers_and_pushdown(spark, tmp_path):
    """Range layout at rest: after write_range_sorted on event_id, every
    parquet file's min/max footer interval is disjoint (so a range
    predicate skips all but the touched files via stats pushdown), while
    a hash-shuffled write of the same data overlaps everywhere. The read
    plan must show the filter pushed to the scan."""
    import glob

    import pyarrow.parquet as pq

    from cefspark.storage import write_range_sorted

    df = spark.range(0, 20000).select(
        F.xxhash64("id").alias("scramble"), F.col("id").alias("event_id"))
    # scrambled order on input: the range exchange must impose the layout
    df = df.repartition(8, "scramble").drop("scramble")

    sorted_path = str(tmp_path / "sorted")
    write_range_sorted(df, sorted_path, ["event_id"], n_files=8)
    unsorted_path = str(tmp_path / "unsorted")
    df.repartition(8).write.parquet(unsorted_path)

    def ranges(path):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = [md.row_group(g).column(0) for g in range(md.num_row_groups)]
            assert all(c.path_in_schema == "event_id" for c in col)
            out.append((min(c.statistics.min for c in col),
                        max(c.statistics.max for c in col)))
        return sorted(out)

    rs = ranges(sorted_path)
    assert len(rs) == 8
    assert all(rs[i][1] < rs[i + 1][0] for i in range(len(rs) - 1)), \
        f"file ranges must be disjoint: {rs}"
    ru = ranges(unsorted_path)
    overlaps = sum(1 for i in range(len(ru) - 1) if ru[i][1] >= ru[i + 1][0])
    assert overlaps == len(ru) - 1, "hash layout should overlap everywhere"

    back = spark.read.parquet(sorted_path).where(
        (F.col("event_id") >= 5000) & (F.col("event_id") < 5100))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id,5000)" in plan
    assert back.count() == 100


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: over a full 256x256 grid cut into 16 files, each
    file's footer covers a bounded sub-rectangle, so a narrow filter on
    EITHER column intersects only a few files — while the single-column
    range layout prunes its own column but is blind on the other (every
    file spans the full y range)."""
    import glob

    import pyarrow.parquet as pq

    from cefspark.storage import write_range_sorted, write_zordered

    grid = spark.range(0, 256 * 256).select(
        (F.col("id") % 256).cast("int").alias("x"),
        (F.col("id") / 256).cast("int").alias("y"))
    grid = grid.repartition(8)  # scrambled input order

    # exhaustive range-exchange sampling: repartitionByRange's reservoir
    # seed varies with RDD id (i.e. with suite composition); sampling
    # every row makes the file boundaries exact and the counts stable
    old = spark.conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition", None)
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "100000")
    try:
        zpath = str(tmp_path / "zorder")
        write_zordered(grid, zpath, "x", "y", n_files=16)
        lpath = str(tmp_path / "linear")
        write_range_sorted(grid, lpath, ["x"], n_files=16)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.rangeExchange.sampleSizePerPartition")
        else:
            spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", old)

    def stats(path):
        out = []
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            s = {}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for ci in range(rg.num_columns):
                    c = rg.column(ci)
                    mn, mx = c.statistics.min, c.statistics.max
                    k = c.path_in_schema
                    s[k] = (min(s[k][0], mn), max(s[k][1], mx)) if k in s \
                        else (mn, mx)
            out.append(s)
        return out

    def hits(files, col, lo, hi):
        return sum(1 for s in files
                   if not (s[col][1] < lo or s[col][0] > hi))

    zf, lf = stats(zpath), stats(lpath)
    assert len(zf) == 16 and len(lf) == 16
    # z-order: a 8/256 slice on either column touches a minority of files
    assert hits(zf, "x", 100, 107) <= 8
    assert hits(zf, "y", 100, 107) <= 8
    # linear-on-x: x prunes hard, y cannot prune at all
    assert hits(lf, "x", 100, 107) <= 2
    assert hits(lf, "y", 100, 107) == 16


def test_zorder_value_rejects_out_of_range_keys(spark):
    """Out-of-range keys must raise, not silently bit-mask into colliding
    curve positions."""
    import pytest

    from cefspark.storage import zorder_value

    df = spark.range(1).select(F.lit(1_700_000_000).alias("a"),
                               F.lit(1).alias("b"))
    with pytest.raises(Exception, match="quantize first"):
        df.select(zorder_value(F.col("a"), F.col("b"))).collect()


def test_elapsed_single_shuffle_no_window_sort(spark, transcripts):
    """r7: elapsed pairs in ONE hash aggregation keyed on the transaction
    id — the old min-start window (whole-partition sort) is gone; the
    first-end-at-or-after-start pick is a row-local array filter over the
    per-id collected ends (bounded by transaction size by contract)."""
    df = spark.range(100).repartition(4).select(
        F.col("id").alias("pair_id"),
        F.when(F.col("id") % 2 == 0, "S").otherwise("E").alias("kind"),
        F.timestamp_seconds(F.col("id")).alias("ts"))
    pairs = pipeline.elapsed(df, "pair_id", F.col("kind") == "S",
                             F.col("kind") == "E", timeout_s=600)
    plan = plan_of(pairs)
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_fixture_fanout_hash_not_roundrobin(spark, tmp_path):
    """r7: the fixture fan-out must be a HASH repartition on a deterministic
    key (retry-safe without sortBeforeRepartition's per-task sort), never
    round-robin, and must fire exactly when the local files cannot feed
    defaultParallelism tasks — judged by ROW GROUPS, not a size constant."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cefspark import queries as q

    par = spark.sparkContext.defaultParallelism
    tbl = pa.Table.from_pandas(
        pd.DataFrame({"id": range(1000), "v": [i % 7 for i in range(1000)]}))

    # one row group, one small file: guard fires, hash on the first column
    one = str(tmp_path / "one_rg.parquet")
    pq.write_table(tbl, one)
    df = q._scan(spark, one)
    plan = plan_of(df)
    assert "roundrobin" not in plan.lower()
    assert "Exchange hashpartitioning(id" in plan
    assert df.rdd.getNumPartitions() == par

    # spread_key override reaches the partitioning expression
    df_k = q._scan(spark, str(tmp_path / "one_rg.parquet"),
                   spread_key="v")
    # cache key is the path string: same path + different key reuses the
    # cached fan-out DECISION but must honor the caller's key
    assert "Exchange hashpartitioning(v" in plan_of(df_k)

    # >= par row groups in the same byte footprint: Spark's own splitting
    # suffices, the guard must leave the scan alone
    many = str(tmp_path / "many_rg.parquet")
    pq.write_table(tbl, many, row_group_size=1000 // par)
    assert pq.ParquetFile(many).metadata.num_row_groups >= par
    df2 = q._scan(spark, many)
    assert "Exchange" not in plan_of(df2)


def test_scan_metadata_cache_schema_and_decision(spark, tmp_path):
    """r7: _scan caches METADATA only (inferred schema + fan-out decision)
    per session — the second call must produce the same plan shape and
    schema without behavioral drift, and rows must still be recomputed
    from the files (no result caching)."""
    import pandas as pd

    from cefspark import queries as q

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": range(100), "s": ["x"] * 100})
    ).coalesce(1).write.mode("overwrite").parquet(p)

    first = q._scan(spark, p)
    cached = q._SCAN_META.get(spark, {}).get(p)
    assert cached is not None and cached[0] == first.schema
    second = q._scan(spark, p)
    assert second.schema == first.schema
    assert plan_of(second).count("Exchange") == plan_of(first).count("Exchange")
    assert second.count() == 100
    # InMemoryRelation would mean data caching — metadata cache only
    assert "InMemoryRelation" not in plan_of(second)


def test_scan_metadata_cache_reinfers_after_overwrite(spark, tmp_path):
    """An in-session overwrite of a scanned path with a wider schema is seen
    by the next _scan: the cached schema must not drop the new column."""
    import pandas as pd

    from cefspark import queries as q

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        pd.DataFrame({"id": range(100), "s": ["x"] * 100})
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert q._scan(spark, p).columns == ["id", "s"]

    spark.createDataFrame(
        pd.DataFrame({"id": range(50), "s": ["y"] * 50, "extra": [1.5] * 50})
    ).coalesce(1).write.mode("overwrite").parquet(p)
    again = q._scan(spark, p)
    assert again.schema == spark.read.parquet(p).schema
    assert again.columns == ["id", "s", "extra"]
    assert again.where("extra = 1.5").count() == 50


def test_stream_microbatch_fanout_rule(spark, tmp_path):
    """r7: the streaming micro-batch fan-out must fire exactly when the
    per-trigger file cap times row-groups-per-file cannot feed the pool,
    and must be a hash repartition on the transcript identity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cefspark import streaming

    par = spark.sparkContext.defaultParallelism
    tbl = pa.Table.from_pandas(fixtures.transcripts_pdf(400))

    one = tmp_path / "one_rg"
    one.mkdir()
    pq.write_table(tbl, str(one / "p0.parquet"))
    # file-granular cap below the pool: starved
    assert streaming._microbatch_starved(spark, str(one), 1)
    # cap already feeds the pool: not starved
    assert not streaming._microbatch_starved(spark, str(one), par)

    many = tmp_path / "many_rg"
    many.mkdir()
    pq.write_table(tbl, str(many / "p0.parquet"), row_group_size=400 // par)
    assert pq.ParquetFile(str(many / "p0.parquet")).metadata.num_row_groups >= par
    # one file per trigger but >= par row groups inside it: not starved
    assert not streaming._microbatch_starved(spark, str(many), 1)

    def logical(df):
        return df._jdf.queryExecution().logical().toString()

    fanned = streaming.read_transcript_stream(spark, str(one), 1)
    plan = logical(fanned)
    assert "RepartitionByExpression" in plan
    assert "conv_id" in plan and "turn_idx" in plan
    # enough row groups per trigger: the same call plans no repartition
    assert "RepartitionByExpression" not in logical(
        streaming.read_transcript_stream(spark, str(many), 1))
