"""Dead-letter queue: quarantine decode failures, replay them after a
fix, drain what recovered.

Logstash ships this as the dead_letter_queue (events a codec/output
rejects land in an on-disk queue; the dead_letter_queue INPUT replays
them once the pipeline is fixed). This engine already treats failures as
data (parser.py D17: tag + original payload kept), so the DLQ is a thin
composition over that contract and the snapshot store:

- :func:`quarantine` appends a batch's failures to a ManifestTable,
  keyed by an idempotency token — a retried batch never double-writes
  (same ledger discipline as streaming.exactly_once_sink).
- :func:`replay` re-decodes the whole queue after an upstream ``fix``
  (a DataFrame->DataFrame repair, e.g. a mutate gsub chain) and/or a
  changed DecodeConfig, splitting recovered from still-failing rows.
- :func:`drain` publishes the still-failing remainder as the queue's new
  full state through ``ManifestTable.replace`` (a re-rooted rewrite, like
  compact), so recovered rows leave the queue while time travel still
  shows every pre-drain state.

Scale: quarantine is a filter + append (no shuffle beyond the write);
replay is one decode pass over the queue — which holds only failures,
orders of magnitude smaller than the corpus; drain rewrites only that
same queue. Nothing here rescans source data.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .mappings import PARSE_FAILURE_TAG
from .parser import DecodeConfig
from .storage import ManifestTable, Snapshot
from .udfs import decode_dataframe

#: idempotency-token scheme for quarantined batches
_TOKEN = "dlq://{tag}"


def quarantine(decoded: DataFrame, table: ManifestTable, batch_tag: str,
               payload_col: str = "message") -> Optional[Snapshot]:
    """Append ``decoded``'s parse failures to the queue.

    ``payload_col`` must carry the ORIGINAL payload on failed rows (the
    decode contract does exactly that for ``message``). Emits
    ``(dlq_id, payload, dlq_error)`` — dlq_id is a content hash so a
    consumer can diff queue states. Idempotent per ``batch_tag``: a
    token already in the table's input ledger makes this a no-op
    (returns None), so crash-retried batches never duplicate."""
    token = _TOKEN.format(tag=batch_tag)
    if token in table.consumed_inputs():
        return None
    fails = decoded.where(F.array_contains(F.col("tags"), PARSE_FAILURE_TAG))
    out = fails.select(
        F.xxhash64(F.col(payload_col)).alias("dlq_id"),
        F.col(payload_col).alias("payload"),
        F.col("error").alias("dlq_error"))
    return table.commit(out, inputs=[token])


def replay(spark: SparkSession, table: ManifestTable,
           fix: Optional[Callable[[DataFrame], DataFrame]] = None,
           config: Optional[DecodeConfig] = None,
           ) -> Tuple[Optional[DataFrame], Optional[DataFrame]]:
    """Re-decode the whole queue; returns ``(recovered, still_failing)``.

    ``fix`` repairs the raw payloads first (it sees the queue frame and
    must keep the ``payload`` column); ``config`` decodes under new
    settings. Recovered rows come back fully decoded (ready to route
    into the main pipeline); still-failing rows keep their queue shape
    plus the fresh error. ``(None, None)`` on an empty queue."""
    raw = table.read_union(spark)
    if raw is None:
        return None, None
    if fix is not None:
        raw = fix(raw)
        if "payload" not in raw.columns:
            raise ValueError("fix() must preserve the 'payload' column")
    dec = decode_dataframe(raw, text_col="payload", config=config)
    # successful rows carry tags = NULL, not an empty array — a bare
    # ~array_contains would three-value-NULL them out of BOTH splits
    failed = F.coalesce(
        F.array_contains(F.col("tags"), PARSE_FAILURE_TAG), F.lit(False))
    return dec.where(~failed), dec.where(failed)


def drain(spark: SparkSession, table: ManifestTable,
          still_failing: DataFrame, batch_tag: str) -> Snapshot:
    """Publish ``still_failing`` (in queue shape: dlq_id/payload/
    dlq_error) as the queue's NEW full state with ``table.replace`` —
    recovered rows are gone from every future read, superseded
    snapshots become expirable orphans, time travel keeps pre-drain
    history. The drain itself is ledgered under its own token so a
    retried drain doesn't stack empty rewrites (guarded below, like
    quarantine's token check).

    Single-writer caveat (same as upsert/delete_where): the drain is a
    read->rewrite span — a quarantine committed between this drain's read
    and its ``replace`` publish is silently dropped by it. Run
    drains in the queue's single-writer maintenance window."""
    token = _TOKEN.format(tag=batch_tag)
    consumed = table.consumed_inputs()
    if token in consumed:
        # the documented no-op contract (mirrors quarantine's guard): a
        # retried drain must not stack another full-state rewrite and
        # orphan a snapshot per retry (ADVICE r6)
        return table.snapshot()
    out = still_failing.select(
        F.col("dlq_id"), F.col("payload"),
        F.coalesce(F.col("error"), F.col("dlq_error")).alias("dlq_error"))
    return table.replace(out, inputs=sorted(consumed | {token}))
