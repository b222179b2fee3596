"""Sources: raw byte-stream framing (D1) and binary ingest with UTF-8
validation (D4).

Table-shaped transcript input (1 row = 1 event) needs neither; these cover
the reference's other ingestion shapes:

* ``read_raw_lines`` — a raw log file with a configured delimiter between
  events (the reference's BufferedTokenizer, cef.rb:195-201/211-222, exists
  because its input is an unframed byte stream; in Spark the framing is the
  scan's ``lineSep``, so the "buffer + flush" machinery dissolves into the
  source).
* ``decode_binary_dataframe`` — ingest a BinaryType column through the one
  decode UDF (``udfs.decode_dataframe``). The parser does the strict UTF-8
  decode (D4); invalid byte sequences fail the event early exactly like the
  reference (cef.rb:236-240, spec cef_spec.rb:996-1009). The failure event's
  ``message`` holds a replacement-char rendering of the original bytes
  (Spark strings cannot carry invalid bytes), and ``message_bytes`` carries
  the ORIGINAL raw bytes (BinaryType) so the reference's byte-exact failure
  payload survives ingestion — the remaining deviation is rendering-only.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parser import INVALID_UTF8_ERROR, DecodeConfig
from .udfs import decode_dataframe


def unescape_delimiter(delim: str) -> str:
    r"""Config-file escaping for the delimiter setting: '\\r'/'\\n' sequences
    mean CR/LF (cef.rb:195-199)."""
    return delim.replace("\\r", "\r").replace("\\n", "\n")


def read_raw_lines(spark: SparkSession, path: str, delimiter: str = "\n") -> DataFrame:
    """Frame a raw byte-stream file into one event per row (column ``text``).

    The delimiter plays the role of the reference's BufferedTokenizer split;
    there is no remainder to flush because the scan sees the whole file.
    """
    delim = unescape_delimiter(delimiter)
    df = spark.read.text(path, lineSep=delim).withColumnRenamed("value", "text")
    # a trailing delimiter yields one empty frame; the tokenizer never emits those
    return df.where(F.length("text") > 0)


def read_lines_charset(spark: SparkSession, path: str, charset: str,
                       delimiter: str = "\n",
                       whole_file: bool = False) -> DataFrame:
    """Frame a NON-UTF-8 byte stream into events — the plain/line codec's
    ``charset`` setting (logstash codecs decode bytes with a configured
    charset before framing; the reference's CEF codec consumes the already
    decoded string, cef.rb:211).

    Two physical strategies, same result (column ``text``):

    - default: the CSV reader's ``encoding`` path with parsing neutralized
      (sep = \\x01, quoting disabled, no header) — splittable scan, decode
      happens record-by-record in the JVM, scales like any text read.
      Frames must not contain \\x01 (they are raw log lines; they don't).
    - ``whole_file=True``: binaryFile scan + JVM ``decode()`` + split —
      one row per FILE before the explode, so memory is bounded by shard
      size; the bulletproof fallback for charsets whose multi-byte line
      terminators a record reader mis-splits. Use for modest shard sizes
      (the usual log-rotation layout), not monolithic multi-GB files.

    Both paths drop empty frames (tokenizer contract, as read_raw_lines).
    """
    delim = unescape_delimiter(delimiter)
    if whole_file:
        import re as _re

        raw = spark.read.format("binaryFile").load(path)
        lines = raw.select(
            F.explode(F.split(F.decode(F.col("content"), charset),
                              _re.escape(delim), -1)).alias("text"))
    else:
        lines = (spark.read
                 .option("encoding", charset)
                 .option("lineSep", delim)
                 .option("sep", "\x01")
                 .option("quote", "")
                 .option("header", False)
                 .schema("text STRING")
                 .csv(path))
    return lines.where(F.length("text") > 0)


def decode_binary_dataframe(df: DataFrame, bytes_col: str = "payload",
                            config: Optional[DecodeConfig] = None) -> DataFrame:
    """Decode CEF from a BinaryType column with strict UTF-8 validation;
    ``message_bytes`` keeps the original bytes of an invalid-UTF-8 event."""
    dec = decode_dataframe(df, text_col=bytes_col, config=config)
    # decode_dataframe keeps the input columns in place (a name colliding
    # with a decoded column becomes _src_<name>), so look the payload up by position
    payload = dec.columns[df.columns.index(bytes_col)]
    return dec.withColumn("message_bytes", F.when(
        F.col("error") == INVALID_UTF8_ERROR, F.col(payload)))


TRANSCRIPT_SCHEMA_DDL = ("conv_id string, turn_idx int, role string, "
                         "text string, tool string, ts timestamp")


def read_transcripts_jsonl(spark: SparkSession, path: str,
                           timestamp_format: str =
                           "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][.SSS][XXX]",
                           permissive_col: Optional[str] = "_corrupt_record"
                           ) -> DataFrame:
    """Transcript table from JSON-lines files with the pinned transcript
    schema. The schema is EXPLICIT — json inference would both scan the
    data twice and produce drifting types across ingest batches, which at
    10^12 turns means two different tables. Malformed lines land in
    ``permissive_col`` instead of poisoning the batch (PERMISSIVE mode, the
    error-as-data posture the CEF decode path uses); pass ``None`` to drop
    them silently."""
    schema = TRANSCRIPT_SCHEMA_DDL
    if permissive_col:
        schema += f", {permissive_col} string"
    reader = (spark.read.schema(schema)
              .option("timestampFormat", timestamp_format)
              .option("mode", "PERMISSIVE"))
    if permissive_col:
        reader = reader.option("columnNameOfCorruptRecord", permissive_col)
    return reader.json(path)


def read_transcripts_csv(spark: SparkSession, path: str, header: bool = True,
                         delimiter: str = ",",
                         timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
                         multi_line: bool = True,
                         permissive_col: Optional[str] = "_corrupt_record"
                         ) -> DataFrame:
    """Transcript table from CSV with the pinned schema; quoted fields may
    embed the delimiter, doubled quotes, AND newlines (RFC 4180), all of
    which transcript text contains. ``multi_line=True`` (default) makes
    quoted embedded newlines parse correctly — the cost is that files stop
    being line-splittable, so ingest parallelism is per-FILE; flip it off
    only for corpora guaranteed newline-free, where byte-range splitting of
    huge files matters more. Malformed rows land in ``permissive_col`` (see
    read_transcripts_jsonl)."""
    schema = TRANSCRIPT_SCHEMA_DDL
    if permissive_col:
        schema += f", {permissive_col} string"
    reader = (spark.read.schema(schema)
              .option("header", str(header).lower())
              .option("sep", delimiter)
              .option("quote", '"').option("escape", '"')
              .option("multiLine", str(multi_line).lower())
              .option("timestampFormat", timestamp_format)
              .option("mode", "PERMISSIVE"))
    if permissive_col:
        reader = reader.option("columnNameOfCorruptRecord", permissive_col)
    return reader.csv(path)


def read_transcripts_orc(spark: SparkSession, path: str) -> DataFrame:
    """Transcript table from ORC files with the pinned schema enforced at
    scan time. ORC is the other columnar interchange format large estates
    actually hold (Hive/Trino warehouses); Spark's native vectorized ORC
    reader gives the same pushdown/pruning behavior as parquet, so the
    engine accepts it as a first-class source. The explicit schema makes
    column order/extra columns irrelevant; because Spark fills schema
    columns ABSENT from the files with silent NULLs (it does not error),
    the reader probes the file schema first and raises on missing columns
    — a renamed column in a Hive export must be loud, not a NULL flood."""
    present = set(spark.read.orc(path).columns)
    wanted = [c.split()[0] for c in TRANSCRIPT_SCHEMA_DDL.split(", ")]
    missing = [c for c in wanted if c not in present]
    if missing:
        raise ValueError(
            f"ORC source at {path} is missing transcript column(s) "
            f"{missing}; found {sorted(present)}")
    return spark.read.schema(TRANSCRIPT_SCHEMA_DDL).orc(path)


def write_transcripts_orc(df: DataFrame, path: str, mode: str = "overwrite",
                          compression: str = "zstd") -> None:
    """ORC sink for interchange with Hive/Trino consumers. zstd default —
    ORC's best size/speed trade at rest (matches the parquet sinks)."""
    df.write.mode(mode).option("compression", compression).orc(path)
