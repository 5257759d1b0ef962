"""Kafka layer: option mapping, topic regex, offset store, wire decode —
everything testable without a broker (SURVEY.md §7 risk register: 'keep every
Kafka-layer function pure enough to unit-test on DataFrames')."""

from __future__ import annotations

import json
import re

import pyspark.sql.functions as F
import pytest

from hiveka_spark.sources import producers as P
from hiveka_spark.sources.avro_codec import decode_avro_df, encode_avro_df
from hiveka_spark.sources.kafka_io import (
    KafkaTableConfig,
    OffsetStore,
    decode_wire,
    encode_payload,
    kafka_available,
    read_kafka_batch,
    reader_options,
    topic_pattern,
)
from hiveka_spark.schema import struct_to_avro

from .conftest import SF_SMOKE


# ---------------------------------------------------------------- topic regex
def test_topic_pattern_whitelist():
    pat = topic_pattern(["alpha", "beta.v1"])
    assert re.fullmatch(pat, "alpha")
    assert re.fullmatch(pat, "beta.v1")
    assert not re.fullmatch(pat, "betaXv1")  # dots escaped
    assert not re.fullmatch(pat, "gamma")


def test_topic_pattern_blacklist():
    pat = topic_pattern(["a", "b", "c"], blacklist=["b"])
    assert re.match(pat, "a") and re.match(pat, "c")
    assert not re.match(pat, "b")


def test_topic_pattern_empty_whitelist_matches_all():
    pat = topic_pattern([], blacklist=["skip"])
    assert re.match(pat, "anything")
    assert not re.match(pat, "skip")


# -------------------------------------------------------------- option mapping
def _cfg(**kw) -> KafkaTableConfig:
    base = dict(
        bootstrap_servers="broker1:9092,broker2:9092",
        whitelist_topics=["events"],
        ddl="event_id BIGINT, ts_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    base.update(kw)
    return KafkaTableConfig(**base)


def test_reader_options_batch():
    opts = reader_options(_cfg(), streaming=False)
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["failOnDataLoss"] == "false"  # A10 default: recover, don't die
    assert opts["startingOffsets"] == "earliest"
    assert opts["endingOffsets"] == "latest"
    assert re.match(opts["subscribePattern"], "events")


def test_reader_options_streaming_backpressure():
    opts = reader_options(_cfg(max_offsets_per_trigger=50000), streaming=True)
    assert opts["maxOffsetsPerTrigger"] == "50000"
    assert "endingOffsets" not in opts


def test_reader_options_explicit_offsets():
    start = {"events": {"0": 100, "1": 200}}
    opts = reader_options(_cfg(starting_offsets=start), streaming=False)
    assert json.loads(opts["startingOffsets"]) == start


def test_kafka_gated_with_clear_error(spark):
    if kafka_available(spark):
        pytest.skip("kafka connector present; gating not applicable")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        read_kafka_batch(spark, _cfg())


def test_transactional_sink_gated_with_clear_error(spark):
    from hiveka_spark.streaming.kafka_txn import TransactionalKafkaSink

    if kafka_available(spark):
        pytest.skip("kafka connector present; gating not applicable")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        TransactionalKafkaSink(spark, _cfg(), "t", txn_id="t-writer")


# ---------------------------------------------------------------- offset store
def test_offset_store_resume_and_clamp(tmp_path):
    store = OffsetStore(str(tmp_path / "offsets.json"))
    earliest = {"t": {"0": 10, "1": 0}}
    latest = {"t": {"0": 100, "1": 50}}

    # first run: no state -> start at earliest
    start, end = store.resolve_range(earliest, latest)
    assert json.loads(start) == {"t": {"0": 10, "1": 0}}
    assert json.loads(end) == latest

    # commit end; second run resumes there
    store.commit({"t": {"0": 100, "1": 50}})
    start, _ = store.resolve_range(earliest, {"t": {"0": 150, "1": 60}})
    assert json.loads(start) == {"t": {"0": 100, "1": 50}}

    # retention moved earliest past resumed offset -> clamp to earliest (A10)
    start, _ = store.resolve_range({"t": {"0": 120, "1": 0}}, {"t": {"0": 150, "1": 60}})
    assert json.loads(start)["t"]["0"] == 120

    # resumed offset beyond latest (bogus state) -> reset to earliest
    start, _ = store.resolve_range({"t": {"0": 0, "1": 0}}, {"t": {"0": 80, "1": 60}})
    assert json.loads(start)["t"]["0"] == 0


def test_offset_store_move_to_latest(tmp_path):
    store = OffsetStore(str(tmp_path / "o.json"))
    earliest = {"t": {"0": 0}}
    latest = {"t": {"0": 99}}
    start, _ = store.resolve_range(earliest, latest, move_to_latest="all")
    assert json.loads(start)["t"]["0"] == 99  # A9


def test_offset_store_commit_monotonic(tmp_path):
    store = OffsetStore(str(tmp_path / "o.json"))
    store.commit({"t": {"0": 50}})
    store.commit({"t": {"0": 30}})  # stale commit must not regress
    assert store.load()["t"]["0"] == 50


def test_offset_store_multi_topic_clamp_matrix(tmp_path):
    """Broker-sim resume matrix across topics/partitions in one resolve —
    parity with the reference's per-partition clamp rules
    (KafkaInputFormat.java:369-388 data-loss recovery, :471-501 resume):
    every case class in one topology: fresh partition, clean resume,
    retention loss, bogus state beyond latest, caught-up partition, and a
    per-topic move-to-latest override."""
    store = OffsetStore(str(tmp_path / "o.json"))
    store.commit(
        {
            "logs": {"0": 40, "1": 5, "2": 120},  # 1: below earliest; 2: beyond latest
            "metrics": {"0": 70},
            "audit": {"0": 10},  # will be overridden by move_to_latest
        }
    )
    earliest = {
        "logs": {"0": 0, "1": 10, "2": 0},
        "metrics": {"0": 0, "1": 0},  # partition 1 has no committed state
        "audit": {"0": 0},
    }
    latest = {
        "logs": {"0": 100, "1": 90, "2": 80},
        "metrics": {"0": 70, "1": 30},
        "audit": {"0": 55},
    }
    start, end = store.resolve_range(earliest, latest, move_to_latest={"audit"})
    got = json.loads(start)
    assert got["logs"]["0"] == 40  # clean resume
    assert got["logs"]["1"] == 10  # retention loss -> clamp to earliest
    assert got["logs"]["2"] == 0  # bogus state (>latest) -> conservative earliest
    assert got["metrics"]["0"] == 70  # fully caught up: empty [70, 70) range
    assert got["metrics"]["1"] == 0  # never-seen partition -> earliest
    assert got["audit"]["0"] == 55  # per-topic move-to-latest skips history
    assert json.loads(end) == latest


def test_register_kafka_table_gated_with_clear_error(spark):
    """A1's registration path without a broker/connector must fail with the
    actionable RuntimeError, not an opaque classpath stack."""
    from hiveka_spark.sources.kafka_io import register_kafka_table

    if kafka_available(spark):
        pytest.skip("kafka connector present; gating not applicable")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        register_kafka_table(spark, "kafka_events", _cfg())
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        register_kafka_table(spark, "kafka_events_s", _cfg(), streaming=True)


# ------------------------------------------------------------------ wire decode
def test_demo_wire_roundtrip(spark):
    rows = P.demo_rows(25)
    wire = P.wire_df(spark, P.DEMO_SCHEMA, rows, topic="test_kafka")
    cfg = KafkaTableConfig(bootstrap_servers="none", ddl="a INT, b STRING")
    out = decode_wire(wire, cfg).orderBy("a").collect()
    assert len(out) == 25
    assert [r["a"] for r in out] == list(range(1, 26))
    assert all(r["b"] == "static test string" for r in out)
    # Kafka metadata survives decode (the reference computed KafkaKey metadata
    # but never exposed it; we expose it as queryable columns)
    assert all(r["topic"] == "test_kafka" for r in out)
    assert out[0]["offset"] is not None


def test_tweets_wire_roundtrip_and_event_time(spark):
    rows = P.fake_tweets(30, seed=7, base_ts=1700000000)
    wire = P.wire_df(spark, P.TWEET_SCHEMA, rows, topic="tweets")
    cfg = KafkaTableConfig(
        bootstrap_servers="none", ddl="username STRING, text STRING, timestamp BIGINT"
    )
    out = decode_wire(wire, cfg, event_time_field="timestamp").collect()
    assert len(out) == 30
    assert {r["username"] for r in out} == set(P._USERS)
    assert all(r["event_time"] is not None for r in out)


def test_corrupt_payload_permissive_vs_failfast(spark):
    rows = P.demo_rows(5)
    wire = P.wire_df(spark, P.DEMO_SCHEMA, rows, topic="t")
    corrupted = wire.withColumn(
        "value",
        F.when(F.col("offset") == 0, F.lit(b"\xff\xff\xff\xff")).otherwise(F.col("value")),
    )
    cfg = KafkaTableConfig(bootstrap_servers="none", ddl="a INT, b STRING")
    ok = decode_wire(corrupted, cfg, mode="PERMISSIVE").collect()
    assert len(ok) == 5
    assert sum(1 for r in ok if r["a"] is None) >= 1  # bad record nulled, kept
    with pytest.raises(Exception):
        decode_wire(corrupted, cfg, mode="FAILFAST").collect()


def test_encode_decode_df_symmetry(spark):
    """The encode write path feeds the read path (the sink the
    reference stubbed, done for real)."""
    rows = P.fake_tweets(10, seed=3, base_ts=1700000000)
    df = P.typed_df(spark, P.TWEET_SCHEMA, rows)
    avro = struct_to_avro(P.TWEET_SCHEMA, "tweet")
    encoded = encode_avro_df(df, avro, key_col="username")
    assert [f.name for f in encoded.schema.fields] == ["key", "value"]
    decoded = decode_avro_df(encoded, avro).collect()
    got = sorted((r["username"], r["text"], r["timestamp"]) for r in decoded)
    want = sorted((r["username"], r["text"], r["timestamp"]) for r in rows)
    assert got == want


def test_events_fixture_as_wire_decodes_fully(spark):
    wire = P.events_as_wire(spark, SF_SMOKE)
    cfg = KafkaTableConfig(
        bootstrap_servers="none",
        ddl="event_id BIGINT, ts_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    decoded = decode_wire(wire, cfg, event_time_field="ts_ms")
    n = decoded.count()
    from hiveka_spark.catalog import table

    events = table(spark, SF_SMOKE, "events")
    assert n == events.count()
    # spot-check against source-of-truth values
    src = {r["event_id"]: r for r in events.collect()}
    for r in decoded.limit(50).collect():
        s = src[r["event_id"]]
        assert r["event_type"] == s["event_type"]
        assert r["user_id"] == s["user_id"]
        assert abs(r["value"] - s["value"]) < 1e-12
        assert r["event_time"] is not None


# ------------------------------------------------------------ avro decode
def test_decode_wire_avro_demo_rows(spark):
    """A18: raw-framed demo records decode into typed rows (parity with
    KafkaAvroMessageDecoder.java:153-177 decode semantics)."""
    wire = P.wire_df(spark, P.DEMO_SCHEMA, P.demo_rows(20), topic="t")
    cfg = KafkaTableConfig(bootstrap_servers="none", ddl="a INT, b STRING")
    got = sorted((r["a"], r["b"]) for r in decode_wire(wire, cfg).collect())
    assert got == [(i, "static test string") for i in range(1, 21)]


def test_decode_wire_decimal_roundtrip(spark):
    """A DECIMAL column crosses a Kafka table: encode writes the unscaled
    two's-complement bytes at the column's scale, decode reads them back."""
    from decimal import Decimal

    ddl = "id BIGINT, amt DECIMAL(10,2)"
    cfg = KafkaTableConfig(bootstrap_servers="none", ddl=ddl)
    want = [(1, Decimal("1.50")), (2, Decimal("-12345678.99")), (3, Decimal("0.00")), (4, None)]
    out = decode_wire(encode_payload(spark.createDataFrame(want, ddl), cfg), cfg)
    assert dict(out.dtypes)["amt"] == "decimal(10,2)"
    assert sorted((r["id"], r["amt"]) for r in out.collect()) == want


def test_encode_payload_python_fallback_roundtrips(spark):
    rows = P.fake_tweets(8, seed=11, base_ts=1700000000)
    df = P.typed_df(spark, P.TWEET_SCHEMA, rows)
    cfg = KafkaTableConfig(
        bootstrap_servers="none",
        ddl="username STRING, text STRING, timestamp BIGINT",
    )
    enc = encode_payload(df, cfg, key_col="username")
    assert [f.name for f in enc.schema.fields] == ["key", "value"]
    avro = struct_to_avro(P.TWEET_SCHEMA, "tweet")
    got = sorted(
        (r["username"], r["text"], r["timestamp"])
        for r in decode_avro_df(enc, avro).collect()
    )
    want = sorted((r["username"], r["text"], r["timestamp"]) for r in rows)
    assert got == want


# ------------------------------------------------------- json/csv wire decode
def test_decode_wire_json_and_csv(spark):
    import pyspark.sql.functions as F

    from hiveka_spark.sources.kafka_io import KafkaTableConfig, decode_wire

    rows = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0)], "id bigint, name string, score double"
    )
    wire_meta = [
        F.lit(None).cast("binary").alias("key"),
        F.lit("t").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    ]
    ddl = "id bigint, name string, score double"

    json_wire = rows.select(
        *wire_meta, F.to_json(F.struct("id", "name", "score")).cast("binary").alias("value")
    )
    cfg_json = KafkaTableConfig("b:9092", ddl=ddl, payload_format="json")
    got = {r["id"]: (r["name"], r["score"])
           for r in decode_wire(json_wire, cfg_json).collect()}
    assert got == {1: ("alpha", 1.5), 2: ("beta", -2.0)}

    csv_wire = rows.select(
        *wire_meta, F.concat_ws(",", "id", "name", "score").cast("binary").alias("value")
    )
    cfg_csv = KafkaTableConfig("b:9092", ddl=ddl, payload_format="csv")
    got = {r["id"]: (r["name"], r["score"])
           for r in decode_wire(csv_wire, cfg_csv).collect()}
    assert got == {1: ("alpha", 1.5), 2: ("beta", -2.0)}

    # corrupt json row nulls out under PERMISSIVE
    bad = spark.createDataFrame([("not json",)], "v string").select(
        *wire_meta, F.col("v").cast("binary").alias("value")
    )
    out = decode_wire(bad, cfg_json).collect()
    assert len(out) == 1 and out[0]["id"] is None


# ----------------------------------------------------------- confluent framing
def test_confluent_frame_unframe_roundtrip():
    from hiveka_spark.sources.avro_codec import frame_confluent, unframe_confluent

    framed = frame_confluent(b"\x02payload", 7)
    assert framed[:5] == b"\x00\x00\x00\x00\x07"
    sid, body = unframe_confluent(framed)
    assert sid == 7 and body == b"\x02payload"


def test_confluent_unframe_rejects_bad_magic_and_truncation():
    from hiveka_spark.sources.avro_codec import unframe_confluent

    with pytest.raises(ValueError, match="magic"):
        unframe_confluent(b"\x01\x00\x00\x00\x07rest")
    with pytest.raises(ValueError, match="short"):
        unframe_confluent(b"\x00\x00\x00")


def test_confluent_encode_requires_schema_id(spark):
    cfg = _cfg(framing="confluent")  # no schema_id
    df = spark.range(1).select(
        F.col("id").alias("event_id"), F.lit(0).alias("ts_ms"),
        F.lit(1).alias("user_id"), F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"),
    )
    with pytest.raises(ValueError, match="schema_id"):
        encode_payload(df, cfg)


def test_confluent_roundtrip_single_schema(spark):
    """Encode with confluent framing, decode without a registry (single-schema
    topic): header stripped, id ignored, rows identical to raw framing."""
    cfg = _cfg(framing="confluent", schema_id=3)
    df = spark.createDataFrame(
        [(1, 10, 100, "click", 1.5, "{}"), (2, 20, 200, "view", 2.5, "{}")],
        "event_id BIGINT, ts_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    wire = encode_payload(df, cfg)
    first = bytes(wire.select("value").first()[0])
    assert first[0] == 0x00 and int.from_bytes(first[1:5], "big") == 3
    out = decode_wire(wire, cfg)
    got = sorted((r["event_id"], r["event_type"]) for r in out.collect())
    assert got == [(1, "click"), (2, "view")]


def test_confluent_wrong_magic_permissive_vs_failfast(spark):
    """Raw-framed payloads read under confluent framing: PERMISSIVE nulls the
    record (reference bad-record policy), FAILFAST raises."""
    cfg_raw = _cfg()
    cfg_conf = _cfg(framing="confluent", schema_id=1)
    df = spark.createDataFrame(
        [(1, 10, 100, "click", 1.5, "{}")],
        "event_id BIGINT, ts_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    raw_wire = encode_payload(df, cfg_raw)
    permissive = decode_wire(raw_wire, cfg_conf).collect()
    assert len(permissive) == 1 and permissive[0]["event_id"] is None
    with pytest.raises(Exception):
        decode_wire(raw_wire, cfg_conf, mode="FAILFAST").collect()


def test_confluent_unknown_schema_id_with_registry(spark, tmp_path):
    """With a registry map, an id not in the registry is a bad record:
    PERMISSIVE -> null row, FAILFAST -> raise."""
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry

    registry = FileSchemaRegistry(str(tmp_path / "reg"))
    cfg = _cfg(framing="confluent", schema_id=99)  # 99 never registered
    registry.register("events", json.loads(cfg.schema_json()))  # v1 only
    df = spark.createDataFrame(
        [(1, 10, 100, "click", 1.5, "{}")],
        "event_id BIGINT, ts_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    wire = encode_payload(df, cfg)
    out = decode_wire(
        wire, cfg, registry=registry, registry_topic="events"
    ).collect()
    assert len(out) == 1 and out[0]["event_id"] is None
    with pytest.raises(Exception):
        decode_wire(
            wire, cfg, mode="FAILFAST", registry=registry, registry_topic="events",
        ).collect()


def test_confluent_schema_evolution_via_registry(spark, tmp_path):
    """Payloads written under v1 decode under the topic's latest (v2) reader
    schema: added field takes its Avro default, int->long promotes."""
    from hiveka_spark.sources.kafka_io import with_confluent_framing
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry

    registry = FileSchemaRegistry(str(tmp_path / "reg"))
    cfg_v1 = KafkaTableConfig(
        "sim://x", whitelist_topics=["t"], ddl="a BIGINT, b STRING"
    )
    cfg_v1 = with_confluent_framing(cfg_v1, registry, "t")
    assert cfg_v1.framing == "confluent" and cfg_v1.schema_id == 1
    # idempotent re-registration
    assert with_confluent_framing(cfg_v1, registry, "t").schema_id == 1

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a BIGINT, b STRING")
    wire = encode_payload(df, cfg_v1)

    v1 = json.loads(cfg_v1.schema_json())
    v2 = {
        **v1,
        "fields": v1["fields"]
        + [{"name": "tag", "type": "string", "default": "evolved"}],
    }
    assert registry.register("t", v2) == 2
    from dataclasses import replace

    cfg_v2 = replace(cfg_v1, ddl=None, avro_schema=v2)
    out = decode_wire(
        wire, cfg_v2, registry=registry, registry_topic="t"
    )
    got = sorted((r["a"], r["b"], r["tag"]) for r in out.collect())
    assert got == [(1, "x", "evolved"), (2, "y", "evolved")]
