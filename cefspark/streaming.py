"""Structured Streaming mode: the same decode -> enrich -> route -> aggregate
pipeline over a streaming transcript source.

The batch codec UDF is reused verbatim (pandas UDFs are streaming-safe: no
per-row state; the only codec state in the reference — the delimiter buffer,
cef.rb:200 — has no analogue for table-shaped input). Late data is handled
with an event-time watermark on ts; the windowed per-sink counts run in
update/append mode with partial aggregation state bounded by
(sinks x open windows).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parser import DecodeConfig
from .pipeline import enrich, route
from .udfs import decode_dataframe

TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")


def _microbatch_starved(spark: SparkSession, path: str,
                        max_files_per_trigger: int) -> bool:
    """True when a micro-batch of this file source cannot feed the executor
    pool: the effective scan parallelism of one trigger is bounded by
    (files per trigger) x (row groups per file) — a byte split only yields
    rows for row groups whose midpoint it contains — so a file-granular cap
    below ``defaultParallelism`` pins the decode-heavy map stage to a few
    tasks while the rest of the pool idles (the streaming twin of the batch
    fixture fan-out guard in ``queries._spread``). Row groups per file are
    probed from up to 8 local parquet footers (~1 ms each, once at stream
    setup); a remote store or an empty/unreadable directory conservatively
    assumes one row group per file (file-granular worst case)."""
    par = spark.sparkContext.defaultParallelism
    if not max_files_per_trigger or max_files_per_trigger >= par:
        return False
    rg_per_file = 1
    try:
        import glob as _glob
        import os as _os
        import statistics as _stats

        p = path[5:] if path.startswith("file:") else path
        files = sorted(_glob.glob(_os.path.join(p, "*.parquet")))[:8]
        if files:
            import pyarrow.parquet as _pq

            rg_per_file = max(1, int(_stats.median(
                _pq.ParquetFile(f).metadata.num_row_groups for f in files)))
    except Exception:
        pass  # local probe only; keep the worst-case estimate
    return max_files_per_trigger * rg_per_file < par


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 16) -> DataFrame:
    """File-based streaming source over a transcript parquet directory.

    Fans out: hash-repartitions every micro-batch to the executor pool on
    the transcript identity ``(conv_id, turn_idx)`` — unique by contract, so
    the spread is even and needs no round-robin sort — before the CPU-bound
    decode stage, exactly when the per-trigger file cap cannot feed
    ``defaultParallelism`` tasks (:func:`_microbatch_starved`); a source
    whose triggers already carry enough splits is left alone, so at cluster
    scale large batches are never needlessly shuffled. Measured on the 2M-row bench lane (32 one-row-group
    files, 4 per trigger, local[32]): median batch 2.6 s -> 1.95 s, drain
    throughput +~50%. Results are partitioning-independent (windowed counts
    and keyed state re-shuffle by key regardless); only task placement
    changes."""
    stream = (spark.readStream.schema(TRANSCRIPT_DDL)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(path))
    if _microbatch_starved(spark, path, max_files_per_trigger):
        stream = stream.repartition(spark.sparkContext.defaultParallelism,
                                    F.col("conv_id"), F.col("turn_idx"))
    return stream


def routed_stream(stream: DataFrame, spark: SparkSession,
                  config: Optional[DecodeConfig] = None) -> DataFrame:
    return route(enrich(decode_dataframe(stream, config=config), spark))


def windowed_sink_counts(routed: DataFrame, watermark: str = "10 minutes",
                         window: str = "1 hour") -> DataFrame:
    """Streaming per-sink windowed counts with late-data watermarking."""
    return (routed.withWatermark("ts", watermark)
            .groupBy("sink_id", F.window("ts", window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("sink_id", F.col("w.start").alias("window_start"), "n_events"))


def run_to_memory(spark: SparkSession, input_path: str, query_name: str,
                  config: Optional[DecodeConfig] = None,
                  watermark: str = "10 minutes"):
    """Drain the stream with availableNow into an in-memory sink (tests /
    smoke); returns the StreamingQuery (caller awaits termination)."""
    stream = read_transcript_stream(spark, input_path)
    counts = windowed_sink_counts(routed_stream(stream, spark, config), watermark)
    return (counts.writeStream.format("memory").queryName(query_name)
            .outputMode("complete").trigger(availableNow=True).start())


def run_to_parquet(spark: SparkSession, input_path: str, out_path: str,
                   checkpoint: str, config: Optional[DecodeConfig] = None):
    """Production shape: append routed events to partitioned parquet with a
    streaming checkpoint (exactly-once per file source + checkpoint)."""
    stream = read_transcript_stream(spark, input_path)
    routed = routed_stream(stream, spark, config)
    return (routed.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("sink_id")
            .trigger(availableNow=True)
            .start())


# --- custom stateful operator: per-conversation running stats ------------------

CONV_STATS_SCHEMA = "conv_id string, n_turns long, n_failed long, last_turn_idx int"
_CONV_STATE_SCHEMA = "n long, f long, last int"


def conversation_stats_stream(decoded_stream: DataFrame):
    """Arbitrary stateful processing (applyInPandasWithState): maintain
    per-conversation running turn/failure counts and the max turn index
    across micro-batches. This is the engine's template for custom stateful
    operators the built-in windowed aggregations can't express (the state is
    keyed by conv_id, so it shuffles once to co-locate each conversation).
    """
    import pandas as pd

    def update(key, pdfs, state):
        (conv_id,) = key
        n, f, last = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n += len(pdf)
            f += int(pdf["error"].notna().sum())
            if len(pdf):
                last = max(last, int(pdf["turn_idx"].max()))
        state.update((n, f, last))
        yield pd.DataFrame({"conv_id": [conv_id], "n_turns": [n],
                            "n_failed": [f], "last_turn_idx": [last]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (decoded_stream.groupBy("conv_id")
            .applyInPandasWithState(update, CONV_STATS_SCHEMA, _CONV_STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def run_conversation_stats(spark: SparkSession, input_path: str, query_name: str,
                           config: Optional[DecodeConfig] = None,
                           max_files_per_trigger: int = 16):
    """Drain a transcript directory through the stateful operator into an
    in-memory sink (availableNow)."""
    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    # the stateful operator reads only `error` (+ pass-through conv_id /
    # turn_idx) — skip the extensions-map Arrow transfer
    decoded = decode_dataframe(stream, config=config, columns=["error"])
    stats = conversation_stats_stream(decoded)
    return (stats.writeStream.format("memory").queryName(query_name)
            .outputMode("update").trigger(availableNow=True).start())


def dedup_stream(stream: DataFrame, keys: list[str] | None = None,
                 watermark: str = "10 minutes", ts_col: str = "ts",
                 within_watermark: bool = True) -> DataFrame:
    """Streaming exactly-once delivery: drop duplicate events (at-least-once
    sources redeliver) keyed on the natural event identity, with state
    bounded by the watermark horizon — `dropDuplicatesWithinWatermark`
    evicts seen-keys once they age past the watermark, so state is
    O(events per horizon), not O(stream lifetime). Keys default to the
    transcript identity (conv_id, turn_idx). The contract is the practical
    one for transport-level duplicates (which arrive close to the
    original): a re-send later than ``watermark`` would re-emit.

    ``within_watermark=False`` uses plain ``dropDuplicates(keys)``:
    globally exact but the key state is NEVER evicted (the watermark
    cannot bound it when ``ts_col`` is not part of the key) — reserve it
    for bounded backfills."""
    keys = keys or ["conv_id", "turn_idx"]
    s = stream.withWatermark(ts_col, watermark)
    if within_watermark:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(keys)


def run_dedup_to_memory(spark: SparkSession, input_path: str, query_name: str,
                        watermark: str = "10 minutes",
                        max_files_per_trigger: int = 16):
    """Drain a (possibly duplicated) transcript stream through streaming
    dedup into an in-memory sink; returns the StreamingQuery."""
    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    deduped = dedup_stream(stream, watermark=watermark)
    return (deduped.writeStream.format("memory").queryName(query_name)
            .outputMode("append").trigger(availableNow=True).start())


def interval_enrich(stream: DataFrame, intervals: DataFrame, key: str,
                    event_ts: str, valid_from: str, valid_to: str,
                    value_cols: list[str]) -> DataFrame:
    """Stream-static SCD-2 enrichment: each streaming event picks up the
    static interval row whose ``[valid_from, valid_to)`` window contains its
    event time (NULL ``valid_to`` = open-ended); no-match events keep nulls.

    The streaming counterpart of :func:`cefspark.asof.interval_join` for a
    STATIC (batch) interval table — config versions, price lists, device
    registrations. Because the intervals are non-overlapping per key, each
    event matches at most one row, so this is a STATELESS stream-static
    left join (no watermark, no state store, append-safe); Spark broadcasts
    the static side per micro-batch while it fits. The batch operator's
    window-fill trick is unavailable in streaming (no unbounded event-time
    window over a stream) and unnecessary here.

    Parity with the batch operator is pinned in pytest: running the same
    events through ``interval_join`` and through this enrich (availableNow
    drain) must produce identical rows.
    """
    clash = set(value_cols) & set(stream.columns)
    if clash:
        raise ValueError(f"value_cols collide with stream columns: {sorted(clash)}")
    # mirror asof_join's reserved-name rejection: a user column named like a
    # sentinel would be silently dropped by the trailing .drop() or make the
    # join condition ambiguous
    reserved = {"__iv_key", "__iv_from", "__iv_to"}
    for side, cols in (("stream", stream.columns), ("intervals", intervals.columns)):
        hit = reserved & set(cols)
        if hit:
            raise ValueError(f"{side} columns collide with reserved interval_enrich "
                             f"sentinels: {sorted(hit)}")
    iv = intervals.select(
        F.col(key).alias("__iv_key"),
        F.col(valid_from).alias("__iv_from"),
        F.col(valid_to).alias("__iv_to"),
        *[F.col(c) for c in value_cols])
    cond = ((stream[key] == iv["__iv_key"])
            & (stream[event_ts] >= iv["__iv_from"])
            & (iv["__iv_to"].isNull() | (stream[event_ts] < iv["__iv_to"])))
    return (stream.join(iv, cond, "left")
            .drop("__iv_key", "__iv_from", "__iv_to"))


def session_window_counts(events: DataFrame, key_col: str = "user_id",
                          ts_col: str = "ts", gap: str = "30 minutes",
                          watermark: Optional[str] = "1 hour") -> DataFrame:
    """Per-key event-time SESSION windows (Spark-native ``session_window``):
    one row per (key, session) with the session's start/end and event count.
    A session extends ``gap`` past each event; an event arriving within the
    extended window — INCLUSIVE of the exact boundary (two events exactly
    ``gap`` apart share a session; verified empirically) — continues it,
    i.e. a new session starts only when the gap EXCEEDS ``gap``. That is
    precisely the batch lag/running-sum sessionizer's rule in
    ``queries.q_event_sessions`` (break on gap > 30 min), and the two are
    pinned equal in pytest.

    Works on a streaming OR batch DataFrame. Streaming: pass a watermark so
    closed sessions emit in append mode with state bounded by open sessions
    per key; ``watermark=None`` skips the watermark for batch use.

    Scale: sessionization shuffles once on the key — the same exchange the
    batch sessionizer pays — and the session-merge happens inside the
    state store (streaming) or the sort-based session aggregation (batch);
    no per-session Python, no unbounded state under a watermark."""
    df = events if watermark is None else events.withWatermark(ts_col, watermark)
    return (df.groupBy(F.col(key_col),
                       F.session_window(F.col(ts_col), gap).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col(key_col), F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events"))


def spike_alerts(counts_stream: DataFrame, baseline: DataFrame,
                 factor: int = 2) -> DataFrame:
    """Streaming rate-anomaly alerts: the streaming counterpart of
    :func:`cefspark.pipeline.detect_rate_spikes`. ``counts_stream`` is the
    windowed per-sink counts stream (windowed_sink_counts); ``baseline`` is
    a STATIC relation of per-sink median window counts computed from
    history via :func:`cefspark.pipeline.median_baseline` (over yesterday's
    counts table, say) — the production alerting shape, where the baseline
    is a slowly-refreshed table rather than stream state.

    Stateless stream-static inner join (baseline broadcasts per
    micro-batch; one row per sink, so each count row matches at most once)
    + an exact integer predicate — no watermark, no state store,
    append-safe. Batch parity is pinned in pytest: draining the counts
    through this alert == detect_rate_spikes on the same batch counts when
    the baseline is that batch's own medians."""
    reserved = {"__bl_sink", "__bl_median"}
    for side, cols in (("stream", counts_stream.columns),
                       ("baseline", baseline.columns)):
        hit = reserved & set(cols)
        if hit:
            raise ValueError(f"{side} columns collide with reserved "
                             f"spike_alerts sentinels: {sorted(hit)}")
    bl = baseline.select(F.col("sink_id").alias("__bl_sink"),
                         F.col("median_n").alias("__bl_median"))
    return (counts_stream
            .join(bl, counts_stream["sink_id"] == bl["__bl_sink"], "inner")
            .where(F.col("n_events") > F.lit(factor) * F.col("__bl_median"))
            .select("sink_id", "window_start", "n_events",
                    F.col("__bl_median").alias("median_n")))


def asof_enrich(stream: DataFrame, states: DataFrame, key: str,
                event_ts: str, state_ts: str,
                value_cols: list[str]) -> DataFrame:
    """Stream-static AS-OF enrichment: each streaming event picks up the
    latest static state row at or before its event time, per key — the
    streaming counterpart of :func:`cefspark.asof.asof_join` for a STATIC
    state table.

    Streaming cannot run the batch operator's unbounded window fill, but a
    static state table can be turned into equivalent non-overlapping
    validity intervals up front (each state valid from its timestamp until
    the key's next state; the latest state is open-ended — exactly
    backward-inclusive as-of semantics), after which this is the stateless
    :func:`interval_enrich` join: no watermark, no state store,
    append-safe. The interval derivation is one window pass over the
    (small, static) state side only; the stream is untouched. Duplicate
    (key, state_ts) rows must be pre-aggregated, as for the batch operator.
    Pinned equal to batch ``asof_join`` on the same input in pytest."""
    from pyspark.sql.window import Window

    for side, cols in (("stream", stream.columns), ("states", states.columns)):
        if "__asof_valid_to" in cols:
            raise ValueError(f"{side} columns collide with the reserved "
                             "asof_enrich sentinel: __asof_valid_to")
    w = Window.partitionBy(key).orderBy(state_ts)
    intervals = (states
                 .where(F.col(state_ts).isNotNull() & F.col(key).isNotNull())
                 .withColumn("__asof_valid_to", F.lead(state_ts).over(w)))
    return interval_enrich(stream, intervals, key=key, event_ts=event_ts,
                           valid_from=state_ts, valid_to="__asof_valid_to",
                           value_cols=value_cols)


def exactly_once_sink(stream: DataFrame, table, query_name: str,
                      checkpoint: str, partition_by: list[str] | None = None,
                      source_tag: str | None = None,
                      available_now: bool = True):
    """Stream → snapshot-table sink with END-TO-END exactly-once semantics
    via ``foreachBatch`` + a batch-id-idempotent ManifestTable commit.

    Spark's checkpoint guarantees each micro-batch is replayed
    AT-LEAST-once after a crash/restart with deterministic content (the WAL
    pins the batch's source offsets); the manifest chain's consumed-inputs
    ledger turns that into exactly-once: every commit records the synthetic
    input token ``stream://<tag>/batch/<id>``, and a replayed batch whose
    token is already in the chain is skipped before any write. The commit
    itself is atomic (manifest publish + pointer flip under the commit
    lock), so a crash in the foreachBatch body either committed the batch
    (replay skips) or left only an unreferenced data dir for
    ``expire_snapshots`` to sweep — never a partial or double append.

    ``checkpoint`` and ``source_tag`` must travel together: resuming with a
    fresh checkpoint against the same tag would renumber batches from 0 and
    silently skip them against the old ledger.

    Scale shape: one snapshot per micro-batch (compact() folds them);
    the ledger check reads only manifest JSONs, never data files."""
    tag = source_tag or query_name

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        token = f"stream://{tag}/batch/{batch_id}"
        if token in table.consumed_inputs():
            return  # checkpoint replay after restart: already committed
        table.commit(batch_df, inputs=[token], partition_by=partition_by)

    w = (stream.writeStream.foreachBatch(_write)
         .queryName(query_name)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_stream_join(left: DataFrame, right: DataFrame, key: str,
                       left_ts: str = "ts", right_ts: str = "ts",
                       lag: str = "1 hour",
                       watermark: str = "10 minutes",
                       right_prefix: str = "r_",
                       how: str = "inner") -> DataFrame:
    """Watermarked STREAM-STREAM join: correlate two live streams on a key
    within a bounded event-time window — the attribution/correlation shape
    (alert ↔ triggering event, click ↔ impression). A right row matches a
    left row when keys are equal and ``right_ts`` lies in
    ``[left_ts, left_ts + lag]``.

    Both sides carry event-time watermarks and the join condition carries
    the explicit time bound — together they let Spark GC buffered rows once
    the watermark passes ``left_ts + lag`` (left) / ``right_ts`` (right),
    so join state is bounded by (arrival skew + lag + watermark) per key,
    never by stream length. Without the time bound Spark would buffer both
    streams forever — this operator makes the bound non-optional.

    ``how='leftOuter'`` emits left rows with NULL right columns once the
    watermark proves no match can arrive (outer results are therefore
    watermark-delayed by design). Right columns are prefixed with
    ``right_prefix`` to keep the joined schema collision-free.

    Scale shape: one hash shuffle per side on the join key into the
    symmetric stateful join; state bytes ∝ key-rate × (lag + watermark).
    Hot keys salt exactly like the batch sinks (route with a salt column
    folded into the key upstream)."""
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported stream-stream join type {how!r}")
    lcols = set(left.columns)
    clash = [f"{right_prefix}{c}" for c in right.columns
             if f"{right_prefix}{c}" in lcols]
    if clash:
        raise ValueError(
            f"left columns collide with prefixed right columns: {clash}")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    r = r.select([F.col(c).alias(f"{right_prefix}{c}") for c in right.columns])
    rk, rts = f"{right_prefix}{key}", f"{right_prefix}{right_ts}"
    cond = ((F.col(key) == F.col(rk))
            & (F.col(rts) >= F.col(left_ts))
            & (F.col(rts) <= F.col(left_ts) + F.expr(f"interval {lag}")))
    return l.join(r, cond, how)
