"""Schema registry (A22) + Avro schema resolution: versioned topic schemas,
defaults for added fields, numeric promotions, and the DataFrame-level
old-payload-under-new-schema decode path through ``decode_wire`` with
Confluent framing (the feature the reference's SchemaRegistry.java:16-62
declares but KafkaAvroMessageDecoder.java:131-144 leaves disabled)."""

from __future__ import annotations

import tempfile

import pytest

from hiveka_spark.sources.avro_codec import encode_record, frame_confluent
from hiveka_spark.sources.kafka_io import KafkaTableConfig, decode_wire
from hiveka_spark.sources.schema_registry import (
    FileSchemaRegistry,
    resolve_record,
)

V1 = {
    "type": "record",
    "name": "evt",
    "fields": [
        {"name": "a", "type": "int"},
        {"name": "b", "type": "string"},
    ],
}
# compatible evolution: a promoted int->long, b dropped, c added with
# default, d added nullable without default
V2 = {
    "type": "record",
    "name": "evt",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "c", "type": "string", "default": "missing"},
        {"name": "d", "type": ["null", "double"]},
    ],
}


def _registry() -> FileSchemaRegistry:
    return FileSchemaRegistry(tempfile.mkdtemp(prefix="schema_reg_"))


def _decode_v1_wire(spark, reg, records):
    """Confluent-framed v1 payloads, decoded under the topic's latest
    registered schema with per-record writer-schema resolution."""
    wire = spark.createDataFrame(
        [(frame_confluent(encode_record(V1, r), 1),) for r in records], "value binary"
    )
    _, reader = reg.latest("t")
    cfg = KafkaTableConfig(
        "none", whitelist_topics=["t"], avro_schema=reader, framing="confluent"
    )
    return decode_wire(wire, cfg, registry=reg, registry_topic="t")


def test_register_versions_and_latest():
    reg = _registry()
    assert reg.versions("t") == []
    assert reg.register("t", V1) == 1
    assert reg.register("t", V2) == 2
    assert reg.versions("t") == [1, 2]
    version, latest = reg.latest("t")
    assert version == 2 and latest["fields"][0]["type"] == "long"
    assert reg.get("t", 1)["fields"][1]["name"] == "b"
    with pytest.raises(ValueError, match="no schema"):
        reg.latest("unknown")


def test_resolve_record_defaults_promotion_and_drop():
    rec = {"a": 7, "b": "gone"}
    out = resolve_record(V1, V2, rec)
    assert out == {"a": 7, "c": "missing", "d": None}
    assert isinstance(out["a"], int)
    # int -> double promotion
    v2f = {
        "type": "record",
        "name": "evt",
        "fields": [{"name": "a", "type": "double"}],
    }
    assert resolve_record(V1, v2f, rec) == {"a": 7.0}
    # incompatible: string -> int must raise, not coerce
    bad = {
        "type": "record",
        "name": "evt",
        "fields": [{"name": "b", "type": "int"}],
    }
    with pytest.raises(ValueError, match="cannot resolve"):
        resolve_record(V1, bad, rec)
    # added field with no default and not nullable: resolution error
    strict = {
        "type": "record",
        "name": "evt",
        "fields": [{"name": "z", "type": "int"}],
    }
    with pytest.raises(ValueError, match="no default"):
        resolve_record(V1, strict, rec)


def test_decode_old_payloads_under_new_schema(spark):
    """Wire rows encoded under v1 decode into the topic's latest (v2) shape:
    a arrives promoted to long, c takes its default, d is null."""
    reg = _registry()
    reg.register("t", V1)
    reg.register("t", V2)
    out = _decode_v1_wire(spark, reg, [{"a": i, "b": f"s{i}"} for i in range(1, 11)])
    assert [f.name for f in out.schema.fields] == ["a", "c", "d"]
    assert dict(out.dtypes)["a"] == "bigint"
    got = sorted((r["a"], r["c"], r["d"]) for r in out.collect())
    assert got == [(i, "missing", None) for i in range(1, 11)]


def test_decode_same_version_passthrough(spark):
    reg = _registry()
    reg.register("t", V1)
    out = _decode_v1_wire(spark, reg, [{"a": 1, "b": "x"}])
    assert [(r["a"], r["b"]) for r in out.collect()] == [(1, "x")]
