"""Arrow-batched pandas UDF wrappers around the codec.

The whole reference codec becomes two vectorized UDFs (SURVEY.md §2.4): a
decode UDF producing a wide struct (7 headers + syslog + extension map +
failure columns) and an encode UDF producing the CEF line. Both are
Series->batch pandas UDFs — Arrow IPC crosses the JVM/Python boundary once
per batch, never per row. Mapping dictionaries are module-level and built
once per executor process (the broadcast-dict analogue of the reference's
init-time generate_mappings!, cef.rb:206-207; for a 239-entry table a
closure-captured dict is strictly cheaper than a Spark broadcast join).
"""

from __future__ import annotations

import dataclasses
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, MapType, StringType, StructField,
                               StructType)

from .encoder import EncoderConfig, encode_batch
from .parser import DECODED_COLUMNS, DecodeConfig, decode_batch

#: Decoded-event struct: fixed physical columns for the 7 headers (CEF long
#: names; ECS naming is a view over these), the syslog prelude, one map column
#: for the open-ended extension space (unknown keys are first-class,
#: cef_spec.rb:916-924), and error-as-data failure columns. Field names and
#: order are parser.DECODED_COLUMNS; every field but these two is a string.
_DECODED_TYPES = {"extensions": MapType(StringType(), StringType()),
                  "tags": ArrayType(StringType())}
DECODED_STRUCT = StructType([StructField(c, _DECODED_TYPES.get(c, StringType()))
                             for c in DECODED_COLUMNS])


def make_decode_udf(config: Optional[DecodeConfig] = None,
                    columns: Optional[list] = None):
    """Build the decode pandas UDF. ``config.now`` is pinned here (on the
    driver) if unset, so every executor infers yearless timestamps against
    the same clock.

    ``columns`` restricts the returned struct to a subset of the decoded
    fields: Catalyst can't prune *inside* a UDF, so when the caller knows it
    only needs e.g. (deviceVendor, severity, error), skipping the extensions
    map in the Arrow transfer cuts ~25% off the decode stage.
    """
    cfg = config or DecodeConfig()
    if cfg.ecs_mode and cfg.now is None:
        # copy before pinning: never mutate the caller's (possibly reused) config
        cfg = dataclasses.replace(cfg, now=pd.Timestamp.now(tz="UTC").isoformat())
    if columns is None:
        out_cols, schema = DECODED_COLUMNS, DECODED_STRUCT
    else:
        unknown = set(columns) - set(DECODED_COLUMNS)
        if unknown:
            raise ValueError(f"unknown decode columns: {sorted(unknown)}")
        # fields keep DECODED_STRUCT order regardless of request order
        schema = StructType([f for f in DECODED_STRUCT.fields if f.name in set(columns)])
        out_cols = [f.name for f in schema.fields]
    if cfg.raw_data_field:
        # D3 raw-data capture (cef.rb:234) must survive the UDF boundary: the
        # decode batch emits it as an extra column, so the output struct grows
        # a matching StringType field.
        if cfg.raw_data_field in out_cols:
            raise ValueError(
                f"raw_data_field {cfg.raw_data_field!r} collides with a decoded "
                f"output column; choose a name outside {sorted(out_cols)}")
        schema = StructType(list(schema.fields) + [StructField(cfg.raw_data_field, StringType())])
        out_cols = out_cols + [cfg.raw_data_field]

    @F.pandas_udf(schema)
    def decode_cef(texts: pd.Series) -> pd.DataFrame:
        return decode_batch(texts, cfg, columns=out_cols)[out_cols]

    return decode_cef


def decode_dataframe(df: DataFrame, text_col: str = "text",
                     config: Optional[DecodeConfig] = None,
                     columns: Optional[list] = None) -> DataFrame:
    """Decode ``df[text_col]`` CEF payloads; appends the decoded columns.

    ``text_col`` may be a string or a binary column (binary payloads are
    validated as UTF-8 by the parser, D4). The UDF's struct is expanded into
    top-level columns — Catalyst prunes unused ones and the UDF boundary
    stays a single projection stage.
    """
    udf = make_decode_udf(config, columns)
    out_names = set(udf.returnType.names) | {"cef"}
    src = df
    in_text = text_col
    # avoid ambiguous references when the input already carries columns
    # named like decoded fields (message/name/severity/... are common
    # log-schema names) or like the transient struct column "cef": input
    # collisions are preserved under _src_<name>
    for c in [c for c in df.columns if c in out_names]:
        src = src.withColumnRenamed(c, f"_src_{c}")
        if c == text_col:  # the payload column itself may collide
            in_text = f"_src_{c}"
    return (src.withColumn("cef", udf(F.col(in_text)))
            .select("*", "cef.*").drop("cef"))


def make_encode_udf(config: Optional[EncoderConfig] = None, field_cols: Optional[list] = None,
                    encode_fields: Optional[list] = None):
    """Encode UDF over a struct of event field columns.

    ``field_cols`` are ALL event fields visible to the encoder (including
    columns only used by %{field} header templates); ``encode_fields``
    restricts which become key=value extension pairs (default: field_cols,
    unless the config already sets ``fields``).
    """
    cfg = config or EncoderConfig()
    if encode_fields is not None:
        cfg = dataclasses.replace(cfg, fields=list(encode_fields))
    elif field_cols and not cfg.fields:
        cfg = dataclasses.replace(cfg, fields=list(field_cols))

    @F.pandas_udf(StringType())
    def encode_cef(event: pd.DataFrame) -> pd.Series:
        return encode_batch(event, cfg)

    return encode_cef


def encode_dataframe(df: DataFrame, field_cols: list,
                     config: Optional[EncoderConfig] = None,
                     out_col: str = "cef_line",
                     encode_fields: Optional[list] = None) -> DataFrame:
    udf = make_encode_udf(config, field_cols, encode_fields)
    cols = field_cols or df.columns[:1]  # struct() needs >= 1 field
    return df.withColumn(out_col, udf(F.struct(*[F.col(c) for c in cols])))


def ext(key: str) -> Column:
    """Extension accessor: ``ext('sourceAddress')`` — map lookup the optimizer
    can see through after the decode projection."""
    return F.col("extensions").getItem(key)


#: ECS timestamp string (our 9-digit ISO rendering) -> Spark TimestampType (µs).
def ecs_timestamp(col: Column) -> Column:
    return F.to_timestamp(F.regexp_replace(col, r"(\.\d{6})\d{3}Z$", "$1Z"))


#: ECS timestamp string -> epoch-nanosecond LongType. Spark TimestampType
#: truncates to µs, but the reference's normalizer is ns-precise
#: (iso8601(9), timestamp_normalizer_spec.rb:97-129) and our ISO rendering
#: carries all 9 fractional digits — this column preserves full parity for
#: sub-microsecond producers. Pure built-ins (whole-stage codegen, no UDF).
def ecs_timestamp_ns(col: Column) -> Column:
    micro_ts = ecs_timestamp(col)
    sub_us = F.regexp_extract(col, r"\.\d{6}(\d{3})Z$", 1).cast("long")
    return (F.unix_micros(micro_ts) * F.lit(1000).cast("long")
            + F.coalesce(sub_us, F.lit(0))).cast("long")


def ecs_view(df: DataFrame, device: str = "observer") -> DataFrame:
    """Logical ECS-mode view over the physical decode columns: headers are
    renamed to their ECS references (cef.rb:362-371) and the @timestamp
    extension (deviceReceiptTime in ECS mode) is promoted to a typed
    TimestampType column. Extension-map keys are already ECS references when
    the decode ran with ecs_mode=True."""
    from .mappings import HEADER_COLUMNS, HEADER_FIELDS, SYSLOG_HEADER

    out = df
    for phys, ecs in zip(HEADER_COLUMNS, HEADER_FIELDS["v1"]):
        out = out.withColumnRenamed(phys, ecs)
    out = out.withColumnRenamed("syslog", SYSLOG_HEADER["v1"])
    # µs TimestampType for relational work + the ns-parity long beside it
    return (out.withColumn("@timestamp_ns", ecs_timestamp_ns(ext("@timestamp")))
            .withColumn("@timestamp", ecs_timestamp(ext("@timestamp"))))
