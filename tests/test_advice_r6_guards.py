"""Pins for the r6 advisory fixes: adversarial avro loop bounds, enum range
check, idempotent dlq drain, null-safe upsert keys, and the JL projection
dimension guard."""

import io
import json



import pytest

from cefspark import avro


def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _container(schema: dict, block_count: int, body: bytes) -> bytes:
    meta_schema = json.dumps(schema).encode()
    sync = b"S" * 16
    buf = io.BytesIO()
    buf.write(b"Obj\x01")
    # one metadata map block with avro.schema, then end-of-map
    buf.write(_zigzag(1))
    k = b"avro.schema"
    buf.write(_zigzag(len(k)) + k)
    buf.write(_zigzag(len(meta_schema)) + meta_schema)
    buf.write(_zigzag(0))
    buf.write(sync)
    buf.write(_zigzag(block_count))
    buf.write(_zigzag(len(body)) + body)
    buf.write(sync)
    return buf.getvalue()


def test_avro_zero_field_record_huge_count_is_typed_error():
    # fields: [] -> each datum consumes 0 bytes; a huge count must raise,
    # not spin the executor for ~2^40 iterations
    blob = _container({"type": "record", "name": "r", "fields": []},
                      block_count=1 << 40, body=b"")
    with pytest.raises(ValueError, match="zero-byte datum"):
        avro.parse_container(blob)


def test_avro_array_of_null_huge_count_is_typed_error():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "a",
                          "type": {"type": "array", "items": "null"}}]}
    # one record whose array block claims 2^40 null items (0 bytes each)
    body = _zigzag(1 << 40) + _zigzag(0)
    blob = _container(schema, block_count=1, body=body)
    with pytest.raises(ValueError, match="zero-byte array item"):
        avro.parse_container(blob)


def test_avro_enum_negative_index_is_typed_error():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "e", "type": {
                  "type": "enum", "name": "col",
                  "symbols": ["red", "green"]}}]}
    body = _zigzag(-1)  # would silently wrap to 'green' via Python indexing
    blob = _container(schema, block_count=1, body=body)
    with pytest.raises(ValueError, match="enum index out of range"):
        avro.parse_container(blob)


def test_avro_valid_container_still_parses():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "n", "type": "long"}]}
    body = _zigzag(7) + _zigzag(8)
    blob = _container(schema, block_count=2, body=body)
    _, records = avro.parse_container(blob)
    assert records == [{"n": 7}, {"n": 8}]


def test_dlq_drain_retry_is_noop(spark, tmp_path):
    from cefspark.dlq import drain, quarantine
    from cefspark.storage import ManifestTable
    from cefspark.udfs import decode_dataframe
    from pyspark.sql import functions as F

    table = ManifestTable(str(tmp_path / "dlq"))
    bad = decode_dataframe(spark.createDataFrame(
        [("not cef 1",), ("not cef 2",)], "text string"))
    quarantine(bad, table, "batch-1")
    still = (table.read_union(spark)
             .withColumn("error", F.lit("still broken")))
    snap1 = drain(spark, table, still, "drain-1")
    n_manifests = len(table.chain())
    # retried drain with the same tag: no new snapshot, same latest
    snap2 = drain(spark, table, still, "drain-1")
    assert snap2.snapshot_id == snap1.snapshot_id
    assert len(table.chain()) == n_manifests


def test_upsert_null_key_replaces_not_duplicates(spark, tmp_path):
    from cefspark.storage import ManifestTable

    table = ManifestTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(None, "old-null"), ("k1", "old-k1")], "k string, v string")
    table.commit(base, inputs=["seed"])
    updates = spark.createDataFrame(
        [(None, "new-null")], "k string, v string")
    table.upsert(spark, updates, key_cols=["k"])
    rows = {(r["k"], r["v"]) for r in table.read_union(spark).collect()}
    assert rows == {(None, "new-null"), ("k1", "old-k1")}


def test_project_embeddings_wrong_dim_is_loud(spark):
    from cefspark.similarity import project_embeddings
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id long, embedding array<double>")
    good = project_embeddings(df, in_dim=3, out_dim=2, seed="jl").collect()
    assert len(good[0]["proj"]) == 2
    bad = spark.createDataFrame([(2, [1.0, 2.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="in_dim"):
        project_embeddings(bad, in_dim=3, out_dim=2, seed="jl").collect()
