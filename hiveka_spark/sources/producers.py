"""Fixture/stream generators — the rebuild of the reference's demo producers
(SURVEY.md §2A A27): DemoProducer.java:42-78 ({a int, b string} records),
FakeTweetProducer.java:40-65 + SentGen.java:22-77 (fake tweets), and
AvroConsoleProducer.java:42-103 (single-string messages).

Each generator yields a DataFrame of typed rows AND an Avro-encoded wire
DataFrame (binary `value` + metadata columns shaped like the Kafka source),
so the decode pipeline is testable end-to-end without a broker: wire rows in
parquet are indistinguishable from wire rows off a topic.

All randomness is a seeded LCG on the driver — deterministic fixtures, same
philosophy as the reference's fixed 3-user/word-list generators (but our own
word lists; behavior parity, not copied content).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hiveka_spark.schema import struct_to_avro
from hiveka_spark.sources.avro_codec import encode_record
from hiveka_spark.sources.kafka_io import WIRE_DDL

DEMO_SCHEMA = T.StructType(
    [
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType()),
    ]
)

TWEET_SCHEMA = T.StructType(
    [
        T.StructField("username", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("timestamp", T.LongType()),
    ]
)

CONSOLE_SCHEMA = T.StructType([T.StructField("message", T.StringType())])

_USERS = ["analyst_ada", "builder_bo", "curious_cat"]
_SUBJECTS = ["the pipeline", "a query", "the cluster", "our table", "that stream"]
_VERBS = ["processes", "joins", "filters", "aggregates", "shuffles"]
_OBJECTS = ["many rows", "two topics", "late events", "tiny files", "big batches"]
_ADVERBS = ["quickly", "lazily", "in parallel", "at scale", "exactly once"]


class _Lcg:
    """Tiny deterministic generator (no global random state)."""

    def __init__(self, seed: int = 42):
        self.x = seed & 0x7FFFFFFF

    def next(self, bound: int) -> int:
        self.x = (1103515245 * self.x + 12345) % (1 << 31)
        return self.x % bound


def demo_rows(n: int = 100) -> list[dict]:
    """{a: i, b: constant} rows — DemoProducer's pattern (a=i, b static)."""
    return [{"a": i, "b": "static test string"} for i in range(1, n + 1)]


def fake_tweets(n: int = 100, seed: int = 42, base_ts: int | None = None) -> list[dict]:
    """Fake tweets: cycling usernames + seeded 6-word-ish sentences + epoch
    seconds — FakeTweetProducer/SentGen behavior."""
    rng = _Lcg(seed)
    t0 = base_ts if base_ts is not None else int(time.time())
    rows = []
    for i in range(n):
        text = " ".join(
            [
                _SUBJECTS[rng.next(len(_SUBJECTS))],
                _VERBS[rng.next(len(_VERBS))],
                _OBJECTS[rng.next(len(_OBJECTS))],
                _ADVERBS[rng.next(len(_ADVERBS))],
            ]
        )
        rows.append(
            {"username": _USERS[i % len(_USERS)], "text": text, "timestamp": t0 + i}
        )
    return rows


def console_rows(lines: list[str]) -> list[dict]:
    """Wrap lines as {message} records — AvroConsoleProducer's framing."""
    return [{"message": line} for line in lines]


def typed_df(spark: SparkSession, schema: T.StructType, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame([tuple(r[f.name] for f in schema.fields) for r in rows], schema)


def wire_df(
    spark: SparkSession,
    schema: T.StructType,
    rows: list[dict],
    topic: str,
    record_name: str = "record0",
) -> DataFrame:
    """Avro-encode rows into Kafka-source-shaped wire rows: raw Avro binary
    value (BaseProducer.java:44-54 framing — no magic byte), topic/partition/
    offset/timestamp metadata like the real source emits."""
    avro = struct_to_avro(schema, record_name)
    import datetime as _dt

    out = []
    for i, row in enumerate(rows):
        payload = encode_record(avro, row)
        ts = _dt.datetime.fromtimestamp(
            row.get("timestamp", 1704067200 + i), tz=_dt.timezone.utc
        ).replace(tzinfo=None)
        out.append((None, payload, topic, i % 4, i // 4, ts, 0))
    return spark.createDataFrame(out, WIRE_DDL)


def events_as_wire(spark: SparkSession, sf_dir: str, topic: str = "events") -> DataFrame:
    """Re-frame the fixture `events` table as Avro wire rows — the bridge that
    lets every Kafka-layer test run on driver-generated data (TESTDATA.md)
    without a broker."""
    from hiveka_spark.catalog import table

    events = table(spark, sf_dir, "events")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    avro = struct_to_avro(schema, "event")

    import pyspark.sql.functions as F

    rows = (
        events.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .collect()
    )
    import datetime as _dt

    out = []
    per_part_offsets = [0, 0, 0, 0]
    for r in rows:
        payload = encode_record(avro, r.asDict())
        part = int(r["user_id"]) % 4
        ts = _dt.datetime.utcfromtimestamp(r["ts_ms"] / 1000.0)
        out.append((None, payload, topic, part, per_part_offsets[part], ts, 0))
        per_part_offsets[part] += 1
    return spark.createDataFrame(out, WIRE_DDL)
