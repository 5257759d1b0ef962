"""End-to-end Kafka table layer over the file-backed broker simulator:
produce -> offset-range scan -> Avro decode -> SQL view, plus incremental
resume with the OffsetStore and the clamp/failure semantics of the real
connector (KafkaInputFormat.java:238-400 scan, :369-388 clamp, :471-501
resume)."""

from __future__ import annotations

import json
import tempfile
from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from hiveka_spark.sources import producers as P
from hiveka_spark.sources.kafka_io import (
    KafkaTableConfig,
    OffsetStore,
    decode_wire,
    read_kafka_batch,
    register_kafka_table,
    write_kafka,
)
from hiveka_spark.sources.kafka_sim import SimBroker


def _broker() -> SimBroker:
    return SimBroker(tempfile.mkdtemp(prefix="simkafka_"))


def _tweet_cfg(**kw) -> KafkaTableConfig:
    base = dict(
        bootstrap_servers="sim://local",
        whitelist_topics=["tweets"],
        ddl="username STRING, text STRING, timestamp BIGINT",
    )
    base.update(kw)
    return KafkaTableConfig(**base)


def test_produce_scan_decode_roundtrip(spark):
    """The full A1-A25 path with zero mocks of our own layer: typed rows ->
    write_kafka (Avro encode + partitioned append) -> read_kafka_batch
    (pattern + offset scan) -> decode_wire -> typed rows again."""
    broker = _broker()
    broker.create_topic("tweets", partitions=3)
    rows = P.fake_tweets(40, seed=5, base_ts=1_700_000_000)
    df = P.typed_df(spark, P.TWEET_SCHEMA, rows)
    cfg = _tweet_cfg()
    write_kafka(df, cfg, "tweets", key_col="username", broker=broker)

    wire = read_kafka_batch(spark, cfg, broker=broker)
    assert wire.count() == 40
    # keyed routing: each key lands in exactly one partition
    parts_per_key = (
        wire.groupBy("key").agg(F.countDistinct("partition").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in parts_per_key)
    # offsets are dense per partition starting at 0
    for p_row in wire.groupBy("partition").agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi"), F.count("*").alias("n")
    ).collect():
        assert p_row["lo"] == 0 and p_row["n"] == p_row["hi"] + 1

    out = decode_wire(wire, cfg, event_time_field="timestamp")
    got = sorted((r["username"], r["text"], r["timestamp"]) for r in out.collect())
    want = sorted((r["username"], r["text"], r["timestamp"]) for r in rows)
    assert got == want


def test_register_view_and_query(spark):
    broker = _broker()
    broker.create_topic("tweets", partitions=2)
    rows = P.fake_tweets(30, seed=9, base_ts=1_700_000_000)
    # TIMESTAMP and DATE columns ride the Avro logical types
    # timestamp-micros and date; a null of each must round-trip too
    for i, r in enumerate(rows):
        ts = datetime(1970, 1, 1) + timedelta(seconds=r["timestamp"], microseconds=i)
        r["ts"], r["d"] = (None, None) if i == 0 else (ts, ts.date())
    schema = T.StructType(
        P.TWEET_SCHEMA.fields
        + [T.StructField("ts", T.TimestampType()), T.StructField("d", T.DateType())]
    )
    cfg = _tweet_cfg(
        ddl="username STRING, text STRING, timestamp BIGINT, ts TIMESTAMP, d DATE"
    )
    write_kafka(P.typed_df(spark, schema, rows), cfg, "tweets", broker=broker)
    register_kafka_table(spark, "sim_tweets", cfg, broker=broker)
    per_user = {
        r["username"]: r["n"]
        for r in spark.sql(
            "SELECT username, COUNT(*) AS n FROM sim_tweets GROUP BY username"
        ).collect()
    }
    want: dict[str, int] = {}
    for r in rows:
        want[r["username"]] = want.get(r["username"], 0) + 1
    assert per_user == want
    got = sorted(
        ((r["text"], r["ts"], r["d"])
         for r in spark.sql("SELECT text, ts, d FROM sim_tweets").collect()),
        key=repr,
    )
    assert got == sorted(((r["text"], r["ts"], r["d"]) for r in rows), key=repr)


def test_topic_pattern_subscription(spark):
    broker = _broker()
    for t in ("logs.a", "logs.b", "audit"):
        broker.create_topic(t, partitions=1)
        cfg_t = KafkaTableConfig("sim://", ddl="a INT, b STRING")
        payload = P.typed_df(spark, P.DEMO_SCHEMA, P.demo_rows(5))
        write_kafka(payload, cfg_t, t, broker=broker)
    cfg = KafkaTableConfig(
        "sim://", whitelist_topics=["logs.a", "logs.b", "audit"],
        blacklist_topics=["audit"], ddl="a INT, b STRING",
    )
    wire = read_kafka_batch(spark, cfg, broker=broker)
    assert set(r["topic"] for r in wire.select("topic").distinct().collect()) == {
        "logs.a", "logs.b",
    }
    assert wire.count() == 10


def test_explicit_offset_ranges(spark):
    broker = _broker()
    broker.create_topic("demo", partitions=1)
    cfg = KafkaTableConfig("sim://", whitelist_topics=["demo"], ddl="a INT, b STRING")
    write_kafka(P.typed_df(spark, P.DEMO_SCHEMA, P.demo_rows(20)), cfg, "demo", broker=broker)
    cfg_range = KafkaTableConfig(
        "sim://", whitelist_topics=["demo"], ddl="a INT, b STRING",
        starting_offsets={"demo": {"0": 5}}, ending_offsets={"demo": {"0": 15}},
    )
    wire = read_kafka_batch(spark, cfg_range, broker=broker)
    offs = sorted(r["offset"] for r in wire.collect())
    assert offs == list(range(5, 15))  # [start, end) exactly


def test_retention_clamp_vs_failfast(spark):
    """Out-of-range start: failOnDataLoss=false clamps to earliest (A10);
    true raises — both sides of KafkaInputFormat.java:369-388."""
    broker = _broker()
    broker.create_topic("demo", partitions=1)
    cfg = KafkaTableConfig("sim://", whitelist_topics=["demo"], ddl="a INT, b STRING")
    write_kafka(P.typed_df(spark, P.DEMO_SCHEMA, P.demo_rows(20)), cfg, "demo", broker=broker)
    broker.expire("demo", 0, new_earliest=8)

    clamped = KafkaTableConfig(
        "sim://", whitelist_topics=["demo"], ddl="a INT, b STRING",
        starting_offsets={"demo": {"0": 2}},  # below retained range
    )
    wire = read_kafka_batch(spark, clamped, broker=broker)
    assert sorted(r["offset"] for r in wire.collect()) == list(range(8, 20))

    strict = KafkaTableConfig(
        "sim://", whitelist_topics=["demo"], ddl="a INT, b STRING",
        starting_offsets={"demo": {"0": 2}}, fail_on_data_loss=True,
    )
    with pytest.raises(RuntimeError, match="out of range"):
        read_kafka_batch(spark, strict, broker=broker)


def test_incremental_resume_with_offset_store(spark, tmp_path):
    """The reference's kafka_offset_* resume loop against the simulator:
    batch 1 reads all, commits; more data lands; batch 2 reads ONLY the new
    rows; a third run with nothing new reads zero rows."""
    broker = _broker()
    broker.create_topic("demo", partitions=2)
    cfg = KafkaTableConfig("sim://", whitelist_topics=["demo"], ddl="a INT, b STRING")
    store = OffsetStore(str(tmp_path / "offsets.json"))

    def pull() -> list[int]:
        start, end = store.resolve_range(broker.earliest(), broker.latest())
        c = KafkaTableConfig(
            "sim://", whitelist_topics=["demo"], ddl="a INT, b STRING",
            starting_offsets=json.loads(start), ending_offsets=json.loads(end),
        )
        wire = read_kafka_batch(spark, c, broker=broker)
        rows = decode_wire(wire, c).select("a").collect()
        store.commit(json.loads(end))
        return sorted(r["a"] for r in rows)

    write_kafka(P.typed_df(spark, P.DEMO_SCHEMA, P.demo_rows(10)), cfg, "demo", broker=broker)
    assert pull() == list(range(1, 11))

    later = [{"a": i, "b": "late"} for i in range(100, 105)]
    write_kafka(P.typed_df(spark, P.DEMO_SCHEMA, later), cfg, "demo", broker=broker)
    assert pull() == list(range(100, 105))  # only the new rows
    assert pull() == []  # caught up: empty [latest, latest) ranges


def test_streaming_over_sim_broker(spark):
    """readStream over the simulated topic log: same wire schema, decoded
    through the same decode_wire, drained availableNow — the micro-batch
    twin of the batch scan."""
    from hiveka_spark.streaming.pipeline import run_available_now

    broker = _broker()
    broker.create_topic("tweets", partitions=2)
    rows = P.fake_tweets(25, seed=3, base_ts=1_700_000_000)
    cfg = _tweet_cfg()
    write_kafka(P.typed_df(spark, P.TWEET_SCHEMA, rows), cfg, "tweets", broker=broker)

    stream = register_kafka_table(spark, "sim_tweets_s", cfg, streaming=True, broker=broker)
    assert stream.isStreaming
    import tempfile

    out = run_available_now(
        stream, "t_sim_stream", "append",
        checkpoint=tempfile.mkdtemp(prefix="ckpt_sim_"), shuffle_partitions=4,
    )
    got = sorted((r["username"], r["text"], r["timestamp"]) for r in out.collect())
    want = sorted((r["username"], r["text"], r["timestamp"]) for r in rows)
    assert got == want


def test_offsets_for_times_prunes_log_prefix(spark, tmp_path):
    """offsetsForTimes resolution: scanning from the resolved offsets yields
    exactly the suffix with ts >= cutoff (producer wrote time-ordered), and
    out-of-range cutoffs resolve to end/earliest."""
    from hiveka_spark.catalog import table

    from .conftest import SF_SMOKE

    from hiveka_spark.sources.kafka_io import (
        KafkaTableConfig,
        pushdown_time_predicate,
        read_kafka_batch,
        write_kafka,
    )
    from hiveka_spark.sources.kafka_sim import SimBroker

    cfg = KafkaTableConfig(
        bootstrap_servers="sim://t",
        whitelist_topics=["tt"],
        ddl="event_id BIGINT, value DOUBLE, ts_ms BIGINT",
    )
    broker = SimBroker(str(tmp_path / "b"))
    broker.create_topic("tt", partitions=3)
    events = (
        table(spark, SF_SMOKE, "events")
        .filter(F.col("event_id") % 7 == 0)
        .orderBy("ts", "event_id")
        .select("event_id", "value", F.unix_millis("ts").alias("ts_ms"), "ts")
    )
    write_kafka(events, cfg, "tt", key_col="event_id", broker=broker, ts_col="ts")
    total = events.count()
    cutoff = events.approxQuantile("ts_ms", [0.5], 0.0)[0]
    cutoff = int(cutoff)

    pushed = pushdown_time_predicate(spark, cfg, cutoff, broker=broker)
    scanned = read_kafka_batch(spark, pushed, broker=broker)
    n_scanned = scanned.count()
    n_expected = events.filter(F.col("ts_ms") >= cutoff).count()
    assert n_scanned == n_expected  # pruned exactly, no residual rows read
    assert 0 < n_scanned < total  # and it actually skipped a prefix

    # cutoff after the last record -> end offsets -> empty scan
    far = pushdown_time_predicate(spark, cfg, 4102444800000, broker=broker)
    assert read_kafka_batch(spark, far, broker=broker).count() == 0

    # cutoff before the first record -> earliest -> full scan
    early = pushdown_time_predicate(spark, cfg, 0, broker=broker)
    assert read_kafka_batch(spark, early, broker=broker).count() == total


def test_produce_honors_event_timestamps(spark, tmp_path):
    """A payload 'timestamp' column becomes the wire timestamp with
    timestampType=0 (CreateTime); without it, append time (=1) is stamped."""
    import pyspark.sql.functions as F

    from hiveka_spark.sources.kafka_sim import SimBroker

    broker = SimBroker(str(tmp_path / "b2"))
    broker.create_topic("t0", partitions=1)
    payload = spark.createDataFrame(
        [(b"k", b"v")], "key binary, value binary"
    ).withColumn("timestamp", F.to_timestamp(F.lit("2020-06-01 12:00:00")))
    broker.produce(payload, "t0")
    row = broker.scan(spark, "t0").collect()[0]
    assert row["timestampType"] == 0
    assert row["timestamp"].year == 2020

    broker.create_topic("t1", partitions=1)
    broker.produce(payload.drop("timestamp"), "t1")
    row = broker.scan(spark, "t1").collect()[0]
    assert row["timestampType"] == 1


def test_confluent_produce_scan_decode_over_broker(spark, tmp_path):
    """Confluent framing through the full broker path: with_confluent_framing
    registers the subject, write_kafka stamps the 5-byte header, scan +
    decode_wire resolve the writer schema from the id — plus the wrong-magic
    error path when a raw producer pollutes the same topic."""
    from hiveka_spark.sources.kafka_io import with_confluent_framing
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry

    broker = _broker()
    broker.create_topic("tweets", partitions=2)
    registry = FileSchemaRegistry(str(tmp_path / "reg"))
    rows = P.fake_tweets(25, seed=11, base_ts=1_700_000_000)
    df = P.typed_df(spark, P.TWEET_SCHEMA, rows)

    cfg = with_confluent_framing(_tweet_cfg(), registry, "tweets")
    write_kafka(df, cfg, "tweets", key_col="username", broker=broker)

    wire = read_kafka_batch(spark, cfg, broker=broker)
    assert wire.count() == 25
    out = decode_wire(wire, cfg, registry=registry, registry_topic="tweets")
    got = sorted((r["username"], r["text"]) for r in out.collect())
    assert got == sorted((r["username"], r["text"]) for r in rows)

    # a raw (unframed) producer writes into the same topic: PERMISSIVE decode
    # nulls those records, FAILFAST dies on the first bad magic byte
    write_kafka(df.limit(5), _tweet_cfg(), "tweets", broker=broker)
    mixed = read_kafka_batch(spark, cfg, broker=broker)
    assert mixed.count() == 30
    dec = decode_wire(mixed, cfg, registry=registry, registry_topic="tweets")
    assert dec.filter(F.col("username").isNull()).count() == 5
    with pytest.raises(Exception):
        decode_wire(
            mixed, cfg, mode="FAILFAST", registry=registry, registry_topic="tweets"
        ).collect()


def test_confluent_streaming_decode_over_broker(spark, tmp_path):
    """Streaming + Confluent framing through register_kafka_table: the
    micro-batch stream decodes the 5-byte header and resolves the writer
    schema exactly like the batch path (same decode_wire DAG)."""
    import tempfile

    from hiveka_spark.sources.kafka_io import with_confluent_framing
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry
    from hiveka_spark.streaming.pipeline import run_available_now

    broker = _broker()
    broker.create_topic("tweets", partitions=2)
    registry = FileSchemaRegistry(str(tmp_path / "reg"))
    rows = P.fake_tweets(20, seed=3, base_ts=1_700_000_000)
    cfg = with_confluent_framing(_tweet_cfg(), registry, "tweets")
    write_kafka(P.typed_df(spark, P.TWEET_SCHEMA, rows), cfg, "tweets", broker=broker)

    decoded = register_kafka_table(
        spark, "tweets_stream_confluent", cfg, streaming=True, broker=broker,
        registry=registry, registry_topic="tweets",
    )
    out = run_available_now(
        decoded.select("username", "text"), "t_confluent_stream", "append",
        checkpoint=tempfile.mkdtemp(prefix="ckpt_confluent_"),
    )
    got = sorted((r["username"], r["text"]) for r in out.collect())
    assert got == sorted((r["username"], r["text"]) for r in rows)
