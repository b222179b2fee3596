"""The parse -> enrich -> route -> aggregate pipeline.

Spark-first expression of the north-star pipeline around the codec
(BASELINE.json north_star): decode transcripts' ``text`` as CEF, enrich via a
genuine broadcast hash join against tiny vendor/severity dimension tables,
fan out to per-sink tables routed on deviceVendor x severity_band with salted
repartitioning (hot-vendor skew is a *write-side* skew AQE can't fix —
explicit salt, SURVEY.md §4), and aggregate per-sink counts windowed by ts.

Scale notes (the 100 TB design):
- decode is embarrassingly parallel; cost scales with input partitions only.
- both joins broadcast (dimension tables are O(10) rows) — zero shuffles
  until the route/write repartition.
- the single shuffle is ``repartition(sink_id, salt)``: the salt spreads a
  hot vendor over ``salt_buckets`` reducers, bounding any one task at
  ~1/salt_buckets of the hottest sink instead of the whole sink.
- the windowed count is a partial (map-side) + final hash aggregation on
  (sink_id, window) — cardinality = sinks x hours, tiny at any scale.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .mappings import PARSE_FAILURE_TAG
from .parser import DecodeConfig
from .storage import ManifestTable, list_input_files
from .udfs import decode_dataframe

FAILURE_SINK = PARSE_FAILURE_TAG

# --- dimension tables (FIXTURES.md §2) ----------------------------------------

VENDOR_TIERS = [
    ("security", "tier1"), ("threatmanager", "tier1"), ("FooBar", "tier2"),
    ("Vendor", "tier2"), ("fun", "tier3"), ("acme", "tier3"),
    ("Elasticsearch", "tier1"), ("CyberArk", "tier2"), ("Imperva", "tier2"),
    ("TrendMicro", "tier3"),
]


def severity_band_rows() -> list[tuple[str, str]]:
    rows = []
    for i in range(11):
        band = "low" if i <= 3 else ("med" if i <= 6 else "high")
        rows.append((str(i), band))
    return rows


def vendor_lookup_df(spark: SparkSession) -> DataFrame:
    """deviceVendor -> vendor_tier. Built from a pandas frame so that, with
    the session's Arrow setting, it plans as a ``LocalRelation``: its
    broadcast then runs no Python. Built from a list, the leaf would be a
    ``LogicalRDD`` over a Python RDD, and every action (every streaming
    micro-batch too) would pay a Python job to broadcast 10 rows."""
    return spark.createDataFrame(
        pd.DataFrame(VENDOR_TIERS, columns=["deviceVendor", "vendor_tier"]),
        "deviceVendor string, vendor_tier string")


def severity_lookup_df(spark: SparkSession) -> DataFrame:
    """severity -> severity_band, a ``LocalRelation`` for the same reason as
    :func:`vendor_lookup_df`: no Python job per broadcast."""
    return spark.createDataFrame(
        pd.DataFrame(severity_band_rows(), columns=["severity", "severity_band"]),
        "severity string, severity_band string")


# --- stages -------------------------------------------------------------------

#: the only decoded fields the enrich/route/aggregate stages consume
ROUTING_COLUMNS = ["deviceVendor", "severity", "error"]


def decode(df: DataFrame, text_col: str = "text",
           config: Optional[DecodeConfig] = None,
           columns: Optional[list] = None) -> DataFrame:
    return decode_dataframe(df, text_col=text_col, config=config, columns=columns)


def enrich(decoded: DataFrame, spark: SparkSession) -> DataFrame:
    """Broadcast hash joins against the vendor-tier and severity-band dims.

    Both sides are explicitly ``F.broadcast`` — never a shuffle join for a
    10-row dimension. Missing/unmatched keys land in band/tier 'unknown'.
    """
    out = (
        decoded
        .join(F.broadcast(vendor_lookup_df(spark)), on="deviceVendor", how="left")
        .join(F.broadcast(severity_lookup_df(spark)), on="severity", how="left")
        .withColumn("vendor_tier", F.coalesce("vendor_tier", F.lit("unknown")))
        .withColumn("severity_band", F.coalesce("severity_band", F.lit("unknown")))
    )
    return out


def route(enriched: DataFrame) -> DataFrame:
    """Assign sink_id = deviceVendor x severity_band; failures route to the
    parse-failure sink."""
    is_failure = F.col("error").isNotNull()
    sink = F.when(is_failure, F.lit(FAILURE_SINK)).otherwise(
        F.concat_ws("/", F.coalesce(F.col("deviceVendor"), F.lit("_")), F.col("severity_band"))
    )
    return enriched.withColumn("sink_id", sink)


def salted_repartition(routed: DataFrame, salt_buckets: int = 8,
                       num_partitions: Optional[int] = None,
                       salt_key: str = "conv_id") -> DataFrame:
    """Defuse hot-vendor skew: partition by (sink_id, salt) where salt is a
    stable hash of the row's natural key — a hot sink spreads across
    ``salt_buckets`` write tasks instead of one straggler."""
    salted = routed.withColumn(
        "_salt", (F.crc32(F.col(salt_key).cast("string")) % salt_buckets).cast("int"))
    if num_partitions:
        out = salted.repartition(num_partitions, "sink_id", "_salt")
    else:
        out = salted.repartition("sink_id", "_salt")
    return out.drop("_salt")


def write_sinks(routed: DataFrame, base_path: str, salt_buckets: int = 8,
                num_partitions: Optional[int] = None,
                mode: str = "overwrite") -> None:
    """Fan out to per-sink tables: one partitioned write (partition pruning on
    read), salted to bound per-task write volume. ``mode="append"`` adds to
    the sinks of earlier runs (a resumed run writes only its new rows)."""
    out = salted_repartition(routed, salt_buckets, num_partitions)
    # the extensions map is written as-is (parquet MAP); drop nothing — sinks
    # are the system of record for routed events.
    out.write.mode(mode).partitionBy("sink_id").parquet(base_path)


_WINDOW_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _window_seconds(window: str) -> int:
    parts = window.strip().split()
    if len(parts) != 2 or not parts[0].isdigit():
        raise ValueError(f"unsupported window spec {window!r}")
    # strip at most ONE trailing 's' (exact singular/plural only): rstrip
    # would accept 'hourss'/'minutess', which F.window — whose semantics
    # this replaces — rejects
    u = parts[1]
    if u not in _WINDOW_UNITS and u.endswith("s"):
        u = u[:-1]
    unit = _WINDOW_UNITS.get(u)
    if unit is None:
        raise ValueError(f"unsupported window unit {window!r}")
    return int(parts[0]) * unit


def median_baseline(counts: DataFrame) -> DataFrame:
    """Per-sink median window count — the ONE definition of the spike
    baseline, shared by :func:`detect_rate_spikes` (inline) and
    :func:`cefspark.streaming.spike_alerts` (as its static ``baseline``
    input, typically computed over yesterday's counts table).
    ``percentile_disc`` picks an actually-observed count; the long cast
    matters: Spark types disc-of-longs as double, and a double baseline
    would silently drift from the batch detector's exact integer
    predicate."""
    return counts.groupBy("sink_id").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)")
        .cast("long").alias("median_n"))


def detect_rate_spikes(counts: DataFrame, factor: int = 2) -> DataFrame:
    """Per-sink rate-anomaly detection over the windowed counts relation:
    flag windows whose event count exceeds ``factor`` × the sink's own
    median window count — the standard volume-spike alert a log pipeline
    hangs off its aggregate stream (a hot vendor, a log loop, an attack).

    The baseline is ``percentile_disc(0.5)`` — an actually-observed integer
    count, so the spike predicate is pure integer arithmetic (exact on any
    engine, no float tolerance) and robust to the spikes it is hunting
    (median, not mean). NULL-timestamp windows participate like any other
    (sink_counts deliberately preserves them).

    Scale: runs on the COUNTS relation, never the raw events — per-sink
    medians aggregate O(sinks × windows) rows and broadcast back; the only
    shuffle is over that already-aggregated relation."""
    return (counts.join(F.broadcast(median_baseline(counts)), "sink_id")
            .where(F.col("n_events") > F.lit(factor) * F.col("median_n"))
            .select("sink_id", "window_start", "n_events", "median_n"))


def sink_counts(routed: DataFrame, ts_col: str = "ts",
                window: str = "1 hour") -> DataFrame:
    """Per-sink event counts in epoch-aligned tumbling windows (partial+final
    hash agg). Implemented as floor-division bucketing rather than
    ``F.window``: identical window starts for tumbling windows, no
    TimeWindow generator in the plan, and — the load-bearing difference —
    NULL timestamps survive as a NULL-window row instead of being silently
    dropped, so the counts relation (the job's system of record) reconciles
    exactly with the routed rows."""
    secs = _window_seconds(window)
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs)
    return (
        routed.groupBy("sink_id", bucket.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def counts_scalars(counts: DataFrame) -> tuple[int, int, int]:
    """(n_input, n_failed, n_sinks) from a (materialized) sink_counts
    relation — the single shared driver-bounded report aggregation, one
    job."""
    agg = counts.agg(
        F.sum("n_events").alias("n"),
        F.sum(F.when(F.col("sink_id") == FAILURE_SINK, F.col("n_events"))
              .otherwise(F.lit(0))).alias("nf"),
        F.countDistinct("sink_id").alias("ns")).first()
    return int(agg["n"] or 0), int(agg["nf"] or 0), int(agg["ns"])


#: the scan's source file, carried from below the resume anti-join and the
#: persist up to :func:`lineage`
INPUT_FILE_COL = "_input_file"


def lineage(routed: DataFrame) -> DataFrame:
    """Per-input-file lineage: where did each sink's rows come from, and how
    many failed — the audit trail for checkpoint/resume. ``routed`` carries
    :data:`INPUT_FILE_COL`, taken at the scan: ``input_file_name()`` read
    here would be '' over a persisted frame and fails above a join with a
    second file source (the resume anti-join)."""
    return (
        routed.groupBy(INPUT_FILE_COL, "sink_id")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failed"))
    )


@dataclass
class PipelineResult:
    """Driver-bounded job report: top-line scalars + a bounded top-k, never
    the full sink x window count relation (at 100 TB x years that is millions
    of rows — it belongs in a table, not a dataclass). The full counts land
    in the counts table's snapshot ``snapshot_id`` when one is given."""
    n_input: int
    n_failed: int
    n_sinks: int
    top_sinks: list  # [(sink_id, n_events)] — at most top_k rows
    wall_seconds: float
    lineage_rows: int = 0
    snapshot_id: Optional[str] = None


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 sink_path: Optional[str] = None,
                 decode_config: Optional[DecodeConfig] = None,
                 salt_buckets: int = 8,
                 collect_lineage: bool = False,
                 counts_table: Optional[ManifestTable] = None,
                 top_k: int = 10) -> PipelineResult:
    """decode -> enrich -> route -> (optional sink write) -> windowed counts.

    The windowed counts stay distributed: they are materialized once
    (eager localCheckpoint — tiny relation, sinks x hours rows) and the
    driver receives only scalars plus the ``top_k`` busiest sinks.

    ``counts_table`` is the system-of-record report table and makes the run
    resumable: rows of input files an earlier commit consumed are skipped,
    and this run's counts are committed as one snapshot recording the
    scan's files. Each snapshot holds only its new files' counts (read the
    chain with ``read_union``), and the sink write appends. The commit runs
    last, so a run that fails leaves the table as it was; its re-run writes
    the unconsumed files' rows to the sinks again (at-least-once sinks,
    exact counts)."""
    t0 = time.time()
    inputs = list_input_files(transcripts) if counts_table is not None else []
    if collect_lineage:
        transcripts = transcripts.withColumn(INPUT_FILE_COL, F.input_file_name())
    if counts_table is not None:
        transcripts = counts_table.filter_new_inputs(transcripts)
    # counts-only runs skip the extensions-map Arrow transfer entirely;
    # sink writes need the full event (sinks are the system of record)
    cols = None if sink_path else ROUTING_COLUMNS
    routed = route(enrich(decode(transcripts, config=decode_config, columns=cols), spark))
    # decode once: persist exactly when the routed rows feed a second action
    reused = bool(sink_path) or collect_lineage
    routed = routed.persist() if reused else routed
    try:
        if sink_path:
            write_sinks(routed.drop(INPUT_FILE_COL) if collect_lineage else routed,
                        sink_path, salt_buckets=salt_buckets,
                        mode="overwrite" if counts_table is None else "append")
        # materialize the (tiny) agg once; the scalar/top-k jobs and the
        # commit below then read the checkpoint instead of re-running the decode
        counts = sink_counts(routed).localCheckpoint(eager=True)
        n_input, n_failed, n_sinks = counts_scalars(counts)
        top = (counts.groupBy("sink_id").agg(F.sum("n_events").alias("n_events"))
               .orderBy(F.desc("n_events"), F.asc("sink_id")).limit(top_k).collect())
        lin = lineage(routed).count() if collect_lineage else 0
        snap = (counts_table.commit(counts, inputs=inputs)
                if counts_table is not None else None)
    finally:
        if reused:
            routed.unpersist()
    return PipelineResult(
        n_input=n_input, n_failed=n_failed,
        n_sinks=n_sinks,
        top_sinks=[(r["sink_id"], r["n_events"]) for r in top],
        wall_seconds=time.time() - t0, lineage_rows=lin,
        snapshot_id=snap.snapshot_id if snap else None)


def value_percentiles(df: DataFrame, group_col: str, value_col: str,
                      percentiles: tuple[float, ...] = (0.5, 0.95)) -> DataFrame:
    """Exact linear-interpolation percentiles of ``value_col`` per
    ``group_col`` — one row per (group, percentile), columns
    ``(group_col, pct, val)``.

    Uses Spark's exact ``percentile`` aggregate, which matches ANSI/DuckDB
    ``quantile_cont`` bit-for-bit (verified on the events table — identical
    doubles including summation artifacts), so the operator is
    oracle-checkable with no float tolerance.

    Scale note: the EXACT aggregate buffers each group's values (memory
    O(rows per group) on the merging task) — right for bounded-cardinality
    telemetry groups (event types, sinks, severity bands). For
    unbounded/huge groups switch the call site to
    ``percentile_approx(value_col, p, accuracy)``: same shape, mergeable
    sketch state, no exact-oracle gate (compare with epsilon instead)."""
    aggs = [F.percentile(value_col, p).alias(f"_p{i}")
            for i, p in enumerate(percentiles)]
    wide = df.groupBy(group_col).agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(p).alias("pct"), F.col(f"_p{i}").alias("val"))
        for i, p in enumerate(percentiles)])
    return (wide.select(group_col, F.explode(pairs).alias("pv"))
            .select(group_col, F.col("pv.pct").alias("pct"),
                    F.col("pv.val").alias("val")))


def throttle(df: DataFrame, key_cols: list[str], max_per_window: int,
             window_ms: int = 3_600_000, ts_col: str = "ts",
             tie_cols: tuple = ("event_id",),
             mark_only: bool = False) -> DataFrame:
    """Per-key event-time rate limiting — the logstash ``throttle`` filter
    re-expressed relationally: keep at most ``max_per_window`` events per
    key per fixed event-time window of ``window_ms``, deterministically
    (earliest by ``(ts, *tie_cols)`` win — never arrival order, so any
    partitioning/replay yields the identical survivor set).

    ``mark_only=True`` annotates instead of dropping: adds
    ``throttle_rank`` (1-based within the (key, window) bucket) and
    ``throttle_kept`` — the audit shape (count what WOULD drop before
    enabling). NULL timestamps share one bucket per key (rate-limited
    like any other, tie-broken deterministically) rather than passing
    uncounted.

    Scale shape: ONE hash shuffle on (keys, time-bucket) for the
    row_number window — the time bucket in the partition key means a hot
    key's history spreads across window buckets instead of serializing
    into one task (the same chunking idea as asof's chunk_ms)."""
    from pyspark.sql.window import Window

    if max_per_window < 1:
        raise ValueError("max_per_window must be >= 1")
    for c in ("__throttle_bucket", "throttle_rank", "throttle_kept"):
        if c in df.columns:
            raise ValueError(f"input collides with reserved column {c!r}")
    bucket = F.floor(F.unix_millis(F.col(ts_col).cast("timestamp"))
                     / F.lit(window_ms))
    w = (Window.partitionBy(*key_cols, F.col("__throttle_bucket"))
         .orderBy(F.col(ts_col).asc_nulls_first(),
                  *[F.col(c) for c in tie_cols]))
    out = (df.withColumn("__throttle_bucket", bucket)
           .withColumn("throttle_rank", F.row_number().over(w))
           .drop("__throttle_bucket"))
    if mark_only:
        return out.withColumn(
            "throttle_kept", F.col("throttle_rank") <= max_per_window)
    return (out.where(F.col("throttle_rank") <= max_per_window)
            .drop("throttle_rank"))


def elapsed(df: DataFrame, id_col: str, start_pred, end_pred,
            ts_col: str = "ts", timeout_s: Optional[float] = None
            ) -> DataFrame:
    """Start/end event pairing — the logstash ``elapsed`` filter
    re-expressed relationally: events sharing ``id_col`` are paired as
    (first start, first end at-or-after it) and the pair's duration
    reported.

    Returns one row per id that has at least one start or end event:
    ``(id_col, start_ts, end_ts, elapsed_ms, status)`` with status

    - ``matched``: both found, within ``timeout_s`` when given;
    - ``end_without_start``: end events but no start (``end_ts`` = first
      end);
    - ``expired``: a start whose end never came, or came later than
      ``timeout_s`` (``elapsed_ms`` still reported when an end exists —
      batch has the hindsight the streaming filter lacks, and says so);
    - ``open``: start with no end and no timeout configured.

    Batch simplifications vs the streaming filter, by contract: one pair
    per id (ids are unique per transaction, as the filter requires), and
    end events strictly before the first start are ignored when a start
    exists.

    Shape: filter to tagged rows → ONE hash aggregation keyed on the
    transaction id — no self-join, no pair explosion, skew-free for
    unique transaction ids. The "first end at-or-after the first start"
    pick collects the per-id end timestamps and filters them row-locally
    against the aggregated min start (r7: this replaces a min-start
    window + groupBy pair — same single shuffle, but no per-partition
    sort and one pass instead of two). The collect is bounded by
    transaction size — ids are unique per transaction by the filter's own
    contract (a handful of events each, the same memory the logstash
    filter holds per id), NOT by corpus size."""
    ts = F.col(ts_col)
    x = df.where(start_pred | end_pred)
    agg = x.groupBy(id_col).agg(
        F.min(F.when(start_pred, ts)).alias("start_ts"),
        F.collect_list(F.when(end_pred, ts)).alias("_ends"))
    agg = agg.select(
        id_col, "start_ts",
        F.array_min(F.filter("_ends",
                             lambda e: e >= F.col("start_ts"))).alias("end_ts"),
        F.array_min("_ends").alias("_end_any"))
    # cast: events tables carry TIMESTAMP_NTZ; the difference is tz-invariant
    el = (F.unix_millis(F.col("end_ts").cast("timestamp"))
          - F.unix_millis(F.col("start_ts").cast("timestamp")))
    status = (
        F.when(F.col("start_ts").isNull(), F.lit("end_without_start"))
        .when(F.col("end_ts").isNull(),
              F.lit("expired" if timeout_s is not None else "open"))
        .otherwise(F.when(el > int(timeout_s * 1000), F.lit("expired"))
                   .otherwise(F.lit("matched"))
                   if timeout_s is not None else F.lit("matched")))
    return agg.select(
        id_col,
        "start_ts",
        F.when(F.col("start_ts").isNull(), F.col("_end_any"))
        .otherwise(F.col("end_ts")).alias("end_ts"),
        el.cast("long").alias("elapsed_ms"),
        status.alias("status"))


def aggregate_tasks(df: DataFrame, task_col: str, map_col: str,
                    ts_col: str = "ts", order_cols: Optional[list[str]] = None,
                    end_pred=None, timeout_s: Optional[float] = None,
                    now_ts=None) -> DataFrame:
    """Multi-event task correlation — the logstash ``aggregate`` filter
    re-expressed relationally: events sharing ``task_col`` accumulate into
    one per-task map (the filter's ``map`` variable), merged in event-time
    order with LATER-WINS key semantics (each event's map entries overwrite
    earlier entries for the same key, exactly what sequential
    ``map['k'] = v`` code does), then emitted once per task (the
    ``push_map_as_event_on_timeout`` / end-event emission, with batch
    hindsight).

    Returns one row per task: ``(task_col, task_map, n_events, first_ts,
    last_ts, status)`` where status is ``closed`` (an ``end_pred`` event
    was seen), ``expired`` (no end, and ``now_ts - last_ts > timeout_s``
    when both are given), else ``open``.

    Shape: ONE hash aggregation keyed on the task id — events collect into
    an array of (order-key, map) structs, ``array_sort`` replays event
    order, and a ``aggregate``+``map_concat`` fold applies later-wins. The
    collect is bounded by task size (transactions are a handful of events
    by the filter's own contract — logstash holds the same map in memory
    per task); this is NOT for million-event groups, use the windowed
    aggregations for those. No self-join, no pair explosion; skew follows
    task-size skew only.
    """
    order_cols = order_cols or []
    okeys = ["_ts"] + [f"_o{i}" for i in range(len(order_cols))]
    ev = F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        F.coalesce(F.col(map_col),
                   F.expr("map()").cast("map<string,string>")).alias("_m"),
        (F.lit(False) if end_pred is None else end_pred).alias("_end"))
    # structs holding a map are not orderable, but a projection of just the
    # order keys plus the element INDEX is — so sort THAT with array_sort's
    # NATIVE comparator (codegen struct ordering: field-by-field ascending,
    # nulls first — exactly the old lambda's CASE chain) and fold over the
    # original array by index (r7: the interpreted per-comparison lambda
    # was the stage's hot spot). The unique index both breaks ties
    # deterministically (reproducing the stable sort's original-order ties)
    # and addresses the map back out of `_raw`.
    key_struct = ("struct(" + ", ".join(f"s.{k} AS {k}" for k in okeys)
                  + ", i AS _i)")
    agg = df.groupBy(task_col).agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
        F.max(F.when(ev["_end"], True).otherwise(False)).alias("_closed"),
        # empty-map events are identity elements of the later-wins merge
        # (map_concat with nothing to add), and end/count/ts facts are
        # aggregated separately above — so only map-carrying events enter
        # the collected array (r7: halves the collect/sort/fold volume on
        # sparse-map streams; collect_list drops the NULLs)
        F.collect_list(F.when(F.size(ev["_m"]) > 0, ev)).alias("_raw"))
    merged = F.expr(
        f"aggregate(array_sort(transform(_raw, (s, i) -> {key_struct})),"
        " cast(map() as map<string,string>),"
        " (acc, k) -> map_concat("
        "   map_filter(acc, (x, v) -> NOT map_contains_key(_raw[k._i]._m, x)),"
        "   _raw[k._i]._m))")
    if end_pred is not None and timeout_s is not None and now_ts is not None:
        expired = (~F.col("_closed")) & (
            F.unix_millis(F.lit(now_ts).cast("timestamp"))
            - F.unix_millis(F.col("last_ts").cast("timestamp"))
            > int(timeout_s * 1000))
    else:
        expired = F.lit(False)
    status = (F.when(F.col("_closed"), F.lit("closed"))
              .when(expired, F.lit("expired")).otherwise(F.lit("open")))
    return agg.select(
        task_col, merged.alias("task_map"), "n_events", "first_ts",
        "last_ts", status.alias("status"))


def profile_extension_keys(decoded: DataFrame,
                           config: Optional[DecodeConfig] = None
                           ) -> DataFrame:
    """Schema-drift profiling over the decoded extension maps: one row per
    extension key with its event count and whether the key is a canonical
    CEF dictionary name — the operational alarm for a vendor rolling out
    NEW custom fields (D12's ``fetch(key, key)`` fallback, cef.rb:293,
    deliberately passes unknown keys through; this surfaces them instead
    of letting them accumulate silently).

    Returns ``(key, n_events, known)``, one row per key (unordered — a
    diffing consumer orders by key itself).
    Shape: explode(map_keys) → one hash aggregation on the key; known-ness
    compiles to a literal IN-set over the ~200 canonical names (the
    broadcast-dict shape, no join). Key cardinality is bounded by the
    dictionary plus genuine drift, so the agg output is tiny at any input
    scale."""
    from .mappings import get_mappings

    cfg = config or DecodeConfig()
    m = get_mappings(cfg.ecs_mode, device=cfg.device)
    known = sorted(set(m.decode_map.values()))
    return (decoded.where(F.col("extensions").isNotNull())
            .select(F.explode(F.map_keys("extensions")).alias("key"))
            .groupBy("key").agg(F.count(F.lit(1)).alias("n_events"))
            .withColumn("known", F.col("key").isin(known)))


def drop_events(df: DataFrame, cond, percentage: float | None = None,
                hash_cols: Optional[list[str]] = None) -> DataFrame:
    """The logstash ``drop`` filter: remove events matching ``cond``
    (a boolean Column). With ``percentage`` only that fraction of the
    MATCHING events is dropped — but deterministically, via a stable
    integer hash of ``hash_cols`` (required then), never ``rand()``:
    a retried/replayed partition must make the same decision (the
    engine's exactly-once discipline; logstash's probabilistic drop is
    not reproducible and can't be gated).

    Compiles to one Filter — pushdown-eligible, no shuffle; at 100 TB
    a selective drop ahead of a shuffle is the cheapest operator there is.
    """
    if percentage is None:
        return df.where(~cond | cond.isNull())
    if not hash_cols:
        raise ValueError("percentage-mode drop needs hash_cols for a "
                         "deterministic keep/drop decision")
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(10000))
    sampled = cond & (bucket < int(percentage * 100))
    return df.where(~sampled | sampled.isNull())


def clone_events(df: DataFrame, clones: list[str],
                 type_col: str = "clone_type") -> DataFrame:
    """The logstash ``clone`` filter: every event is emitted once as the
    original (``type_col`` NULL) plus once per entry of ``clones`` with
    that tag — the fan-out-to-N-sinks idiom. One explode over a literal
    array (a single generator in one scan, NOT a self-union that would
    re-read the source N times at 100 TB)."""
    if type_col in df.columns:
        raise ValueError(f"{type_col!r} already exists; pass type_col=")
    tags = F.array(F.lit(None).cast("string"),
                   *[F.lit(t) for t in clones])
    return df.withColumn(type_col, F.explode(tags))


def with_uuid(df: DataFrame, col: str = "event_uuid") -> DataFrame:
    """The logstash ``uuid`` filter: attach a random v4 UUID per event.
    NONDETERMINISTIC by nature (two runs differ — so this engine uses it
    for sink-side idempotency tokens, never inside gated/replayable
    transforms; deterministic identity wants xxhash64/md5 of content
    instead, see dedup.py)."""
    return df.withColumn(col, F.expr("uuid()"))


def meter_rates(df: DataFrame, ts_col: str = "ts",
                key_cols: tuple = ("sink_id",), window: str = "1 hour",
                slide: str = "15 minutes") -> DataFrame:
    """The logstash ``metrics`` filter's rate meters as SLIDING-window
    counts: every event lands in window/slide overlapping windows
    (F.window with a slideDuration), so each emitted row reads "events in
    the trailing <window> as of <slide>-aligned instant" — the batch
    analog of the filter's 1m/5m/15m moving rates, and the smoothed
    companion of :func:`sink_counts`' tumbling windows.

    Emits ``(*key_cols, window_start, window_end, n_events,
    rate_per_min)``. ``rate_per_min`` is n/window-minutes (a double; the
    gate pins the exact integer counts, pytest pins the rate).

    Scale: the window generator replicates each input row window/slide
    times BEFORE the shuffle, but partial aggregation collapses them
    map-side, so shuffle volume is O(keys x windows) regardless of event
    count — the replication costs CPU in the scan stage, never network.
    ``window`` must be an integer multiple of ``slide`` (enforced): ragged
    overlap would emit windows whose membership Spark and a closed-form
    oracle define differently at the edges."""
    wsec, ssec = _window_seconds(window), _window_seconds(slide)
    if wsec % ssec != 0:
        raise ValueError(f"window {window!r} must be a multiple of "
                         f"slide {slide!r}")
    w = F.window(F.col(ts_col), window, slide)
    return (df.groupBy(*key_cols, w.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(*key_cols, F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "n_events",
                    (F.col("n_events") / F.lit(wsec / 60.0))
                    .alias("rate_per_min")))


def metricize(df: DataFrame, metric_cols: list[str],
              metric_col: str = "metric", value_col: str = "value",
              drop: bool = True) -> DataFrame:
    """The logstash ``metricize`` filter: one event carrying N metric
    fields becomes N events of (metric, value), NULL metrics skipped.
    One ``stack`` generator in a single scan — the unpivot shape, never
    an N-way self-union."""
    missing = [c for c in metric_cols if c not in df.columns]
    if missing:
        raise ValueError(f"metric_cols not in frame: {missing}")
    pairs = ", ".join(f"'{c}', `{c}`" for c in metric_cols)
    rest = [c for c in df.columns if c not in metric_cols] if drop \
        else list(df.columns)
    out = df.selectExpr(
        *rest, f"stack({len(metric_cols)}, {pairs}) AS "
               f"(`{metric_col}`, `{value_col}`)")
    return out.where(F.col(value_col).isNotNull())


def split_events(df: DataFrame, field: str, sep: str = "\n",
                 keep_empty: bool = False) -> DataFrame:
    """The logstash ``split`` filter: fan one event out into one event
    per element of ``field`` — an array column directly, or a string
    column split on ``sep`` (the filter's terminator, literal not regex).
    Empty fragments are dropped unless ``keep_empty`` (the filter drops
    them). A single generator in one scan; at 100 TB the explode happens
    inside the scan stage, no extra pass."""
    from pyspark.sql.types import ArrayType, StringType

    dt = df.schema[field].dataType
    if isinstance(dt, ArrayType):
        parts = F.col(field)
    elif isinstance(dt, StringType):
        # literal separator: split() takes a regex, so quote it
        parts = F.split(F.col(field), re.escape(sep))
    else:
        raise ValueError(f"split needs an array or string column, "
                         f"{field} is {dt.simpleString()}")
    out = df.withColumn(field, F.explode(parts))
    if not keep_empty and isinstance(dt, StringType):
        out = out.where(F.col(field) != "")
    return out


def conditional_route(df: DataFrame, rules: list, default: str = "default",
                      col: str = "route") -> DataFrame:
    """Logstash pipeline if/else-if routing as ONE chained-when
    projection: ``rules`` is an ordered list of (condition Column, route
    name); the FIRST matching rule wins, unmatched rows get ``default``.
    A NULL condition counts as no-match (three-valued logic never routes
    a row nowhere).

    Compile-time, codegen'd, no shuffle — the route column then feeds
    :func:`salted_repartition`/:func:`write_sinks` exactly like the
    built-in vendor x band routing."""
    if not rules:
        raise ValueError("conditional_route needs at least one rule")
    expr = F.lit(default)
    for cond, name in reversed(list(rules)):
        expr = F.when(F.coalesce(cond, F.lit(False)), F.lit(name)) \
                .otherwise(expr)
    return df.withColumn(col, expr)


def funnel(df: DataFrame, steps: list, key_col: str = "user_id",
           ts_col: str = "ts") -> DataFrame:
    """Ordered conversion funnel: per key, step k counts as reached iff an
    event matching ``steps[k]`` (boolean Columns) occurs STRICTLY AFTER
    the instant step k-1 was first reached (min-ts semantics — the
    classic "view → click → purchase" product funnel, order enforced).

    Returns one row per key that reached step 1: ``(key_col,
    step_ts_1..step_ts_K, steps_reached)`` with NULL step_ts beyond the
    last step reached (monotone by construction).

    Scale: K tiny hash aggregations + K-1 joins, ALL keyed on
    ``key_col`` — every exchange re-uses the same hash partitioning, and
    each agg output is one row per surviving key (monotonically
    shrinking). No self-join on events, no inequality-join explosion:
    the time constraint rides the join as a filter against the single
    carried timestamp."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    acc = (df.where(steps[0]).groupBy(key_col)
           .agg(F.min(ts_col).alias("step_ts_1")))
    for i, cond in enumerate(steps[1:], start=2):
        nxt = (df.join(acc.select(key_col,
                                  F.col(f"step_ts_{i - 1}").alias("_pt")),
                       key_col)
               .where(cond & (F.col(ts_col) > F.col("_pt")))
               .groupBy(key_col).agg(F.min(ts_col).alias(f"step_ts_{i}")))
        acc = acc.join(nxt, key_col, "left")
    reached = None
    for i in range(1, len(steps) + 1):
        bit = F.col(f"step_ts_{i}").isNotNull().cast("int")
        reached = bit if reached is None else reached + bit
    return acc.withColumn("steps_reached", reached)


def retention_cohorts(df: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts",
                      period_seconds: int = 7 * 86400) -> DataFrame:
    """Cohort retention: bucket time into ``period_seconds`` periods,
    cohort = each key's FIRST active period; emit ``(cohort, offset,
    n_keys)`` = how many of the cohort's keys were active again
    ``offset`` periods later (offset 0 row = cohort size).

    Shape: one distinct over (key, period) — volume bounded by
    keys x periods, far below event volume — then a per-key min and one
    count aggregation, all hash-partitioned on the key until the final
    tiny (cohort, offset) agg. The classic telemetry/product query, and
    at 10^12 turns the (key, period) projection is the only relation
    that matters."""
    period = (F.floor(F.unix_millis(F.col(ts_col).cast("timestamp"))
                      / F.lit(period_seconds * 1000))).alias("_period")
    active = df.select(F.col(key_col), period).distinct()
    firsts = active.groupBy(key_col).agg(F.min("_period").alias("_cohort"))
    return (active.join(firsts, key_col)
            .groupBy(F.col("_cohort").alias("cohort"),
                     (F.col("_period") - F.col("_cohort")).alias("offset"))
            .agg(F.count(F.lit(1)).alias("n_keys")))


def range_check(df: DataFrame, ranges: list, negate: bool = False,
                tags_col: str = "tags") -> DataFrame:
    """logstash range-filter parity (logstash-filter-range): validate fields
    against numeric ranges (string fields validate their LENGTH, like the
    plugin) and take per-range actions when the value is inside the range
    (``negate=True`` inverts, firing on out-of-range values).

    ``ranges`` entries are ``(field, min, max, action)`` with actions
    ``"tag:<tag>"`` (append to ``tags_col``), ``"field:<name>:<value>"``
    (set a column), or ``"drop"`` (remove the row). All checks compile to
    Catalyst when/filter expressions — per-row cost is codegen-resident,
    no shuffle, NULL field values never fire (three-valued logic coalesced
    to False, so NULLs can't leak through a negated check either).
    """
    seen_fields = set()
    for entry in ranges:
        if len(entry) != 4:
            raise ValueError(f"range entry must be (field, min, max, action),"
                             f" got {entry!r}")
        seen_fields.add(entry[0])
    missing = seen_fields - set(df.columns)
    if missing:
        raise ValueError(f"range_check: unknown field(s) {sorted(missing)}")
    types = dict(df.dtypes)
    for field, lo, hi, action in ranges:
        value = (F.length(F.col(field)) if types[field] == "string"
                 else F.col(field))
        cond = value.between(F.lit(lo), F.lit(hi))
        if negate:
            cond = ~cond
        cond = F.coalesce(cond, F.lit(False))
        if action == "drop":
            df = df.where(~cond)
        elif action.startswith("tag:"):
            tag = action[4:]
            base = (F.col(tags_col) if tags_col in df.columns
                    else F.lit(None).cast("array<string>"))
            df = df.withColumn(tags_col, F.when(
                cond, F.array_union(F.coalesce(base, F.array()),
                                    F.array(F.lit(tag)))).otherwise(base))
        elif action.startswith("field:"):
            _, name, val = action.split(":", 2)
            df = df.withColumn(name, F.when(cond, F.lit(val)).otherwise(
                F.col(name) if name in df.columns
                else F.lit(None).cast("string")))
        else:
            raise ValueError(f"unknown range action {action!r}")
    return df
