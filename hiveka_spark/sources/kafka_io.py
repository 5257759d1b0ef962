"""Kafka table layer: the Spark-native rebuild of the reference's storage
handler + input/output formats (SURVEY.md §2A A1-A25).

Mapping of the reference's table properties (KafkaBackedTableProperties.java:
32-86) onto Spark Kafka source options:

    kafka.service.uri            -> kafka.bootstrap.servers           (A2)
    kafka.whitelist.topics       -> subscribePattern (alternation)    (A4)
    kafka.blacklist.topics       -> subscribePattern (neg. lookahead) (A5)
    kafka.avro.schema.file/DDL   -> Avro schema / StructType          (A20/A21)
    move-to-last-offset          -> startingOffsets="latest"          (A9)
    offset clamping on data loss -> failOnDataLoss=false              (A10)
    kafka_offset_* resume files  -> OffsetStore (batch) /             (A8)
                                    checkpointLocation (streaming)
    LPT split allocation         -> minPartitions (Spark splits       (A11)
                                    offset ranges per-partition —
                                    finer-grained than the reference's
                                    30-task LPT bin packing)

Broker metadata discovery/failover, fetch loops, CRC checks (A3, A6, A13-A16)
are inside Spark's Kafka source + kafka-clients; nothing to rebuild.

Without the spark-sql-kafka jar, live reads/writes gate behind
``kafka_available()`` with a clear error — but the WHOLE layer still executes
end-to-end against the file-backed broker simulator
(`hiveka_spark.sources.kafka_sim.SimBroker`, the ``broker=`` argument on
every entry point): produce -> offset-range scan -> decode -> SQL view, with
the same option semantics.  Avro decode/encode dispatches to JVM
``from_avro``/``to_avro`` when spark-avro is present (``avro_jvm_available``)
and falls back to the Arrow-batched Python wire codec otherwise.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hiveka_spark import commit
from hiveka_spark.schema import avro_json, ddl_to_struct
from hiveka_spark.sources.avro_codec import decode_avro_df

WIRE_COLUMNS = ["key", "value", "topic", "partition", "offset", "timestamp", "timestampType"]


@dataclass
class KafkaTableConfig:
    """Declarative Kafka table binding — the analog of the reference's
    CREATE EXTERNAL TABLE ... TBLPROPERTIES(...) (README.md:9)."""

    bootstrap_servers: str
    whitelist_topics: list[str] = field(default_factory=list)
    blacklist_topics: list[str] = field(default_factory=list)
    ddl: str | None = None  # declared columns (A21)
    avro_schema: dict | str | None = None  # .avsc contents (A20)
    starting_offsets: str | dict = "earliest"
    ending_offsets: str | dict = "latest"
    fail_on_data_loss: bool = False  # A10 default: clamp & continue
    max_offsets_per_trigger: int | None = None  # streaming backpressure
    min_partitions: int | None = None  # A11 analog
    payload_format: str = "avro"  # A19 decoder-class knob, done as a format: avro|json|csv
    framing: str = "raw"  # raw (reference parity) | confluent (0x00 + schema id)
    schema_id: int | None = None  # registry id stamped by confluent encode
    extra_options: dict = field(default_factory=dict)

    def schema_json(self) -> str:
        if self.avro_schema is not None:
            return (
                self.avro_schema
                if isinstance(self.avro_schema, str)
                else json.dumps(self.avro_schema)
            )
        if self.ddl is not None:
            return avro_json(ddl_to_struct(self.ddl))
        raise ValueError("KafkaTableConfig needs ddl or avro_schema")

    def spark_struct(self):
        from hiveka_spark.schema import avro_to_struct

        if self.ddl is not None:
            return ddl_to_struct(self.ddl)
        return avro_to_struct(json.loads(self.schema_json()))


def topic_pattern(whitelist: list[str], blacklist: list[str] | None = None) -> str:
    """Build the subscribe regex — parity with createTopicRegEx's alternation
    (KafkaInputFormat.java:209-235) plus blacklist as negative lookahead
    (the reference filters blacklisted topics post-metadata, :254-264)."""
    wl = "|".join(re.escape(t) for t in whitelist) if whitelist else ".*"
    if blacklist:
        bl = "|".join(re.escape(t) for t in blacklist)
        return f"(?!({bl})$)({wl})"
    return f"({wl})"


def reader_options(cfg: KafkaTableConfig, streaming: bool = False) -> dict[str, str]:
    """Source options for spark.read/readStream.format('kafka')."""
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "subscribePattern": topic_pattern(cfg.whitelist_topics, cfg.blacklist_topics),
        "failOnDataLoss": str(cfg.fail_on_data_loss).lower(),
        "startingOffsets": (
            cfg.starting_offsets
            if isinstance(cfg.starting_offsets, str)
            else json.dumps(cfg.starting_offsets)
        ),
    }
    if not streaming:
        opts["endingOffsets"] = (
            cfg.ending_offsets
            if isinstance(cfg.ending_offsets, str)
            else json.dumps(cfg.ending_offsets)
        )
    if streaming and cfg.max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(cfg.max_offsets_per_trigger)
    if cfg.min_partitions:
        opts["minPartitions"] = str(cfg.min_partitions)
    opts.update(cfg.extra_options)
    return opts


# classpath probes memoized per JVM gateway (r16, guide §5 driver work):
# the answer cannot change within an application's lifetime, and the
# missing-class branch pays a marshaled JVM exception per call — which the
# streaming sinks were paying once per micro-batch via decode_wire /
# encode_payload.  Keyed on the py4j gateway identity so a fresh JVM
# (new local session in tests) re-probes.
_CLASSPATH_PROBE_CACHE: dict[tuple[int, str], bool] = {}


def _jvm_class_present(spark: SparkSession, cls: str) -> bool:
    key = (id(spark._sc._gateway), cls)
    hit = _CLASSPATH_PROBE_CACHE.get(key)
    if hit is None:
        try:
            spark._jvm.java.lang.Class.forName(cls)
            hit = True
        except Exception:
            hit = False
        _CLASSPATH_PROBE_CACHE[key] = hit
    return hit


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector classes are on the JVM
    classpath."""
    return _jvm_class_present(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def avro_jvm_available(spark: SparkSession) -> bool:
    """True when the spark-avro module is on the JVM classpath, i.e.
    ``pyspark.sql.avro.functions.from_avro``/``to_avro`` will actually
    evaluate (the Python wrappers import fine either way; evaluation needs
    org.apache.spark.sql.avro.* from the spark-avro jar)."""
    return _jvm_class_present(spark, "org.apache.spark.sql.avro.AvroDataToCatalyst")


def _require_kafka(spark: SparkSession) -> None:
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector is not on the classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> via "
            "spark.jars.packages. Option mapping and decode paths remain "
            "unit-testable without it (see tests/test_kafka_io.py)."
        )


def read_kafka_batch(
    spark: SparkSession, cfg: KafkaTableConfig, broker=None
) -> DataFrame:
    """Batch scan of the configured topics — wire columns out (A15's key/value
    + the KafkaKey metadata the reference computed but never exposed,
    KafkaKey.java:25-34; here they are real queryable columns).

    ``broker``: a :class:`hiveka_spark.sources.kafka_sim.SimBroker` runs the
    same scan (pattern subscription, offset ranges, clamping) against the
    file-backed simulator — the end-to-end path in broker-less environments."""
    opts = reader_options(cfg, streaming=False)
    if broker is not None:
        return broker.scan(
            spark,
            opts["subscribePattern"],
            starting_offsets=opts["startingOffsets"],
            ending_offsets=opts["endingOffsets"],
            fail_on_data_loss=opts["failOnDataLoss"] == "true",
        )
    _require_kafka(spark)
    reader = spark.read.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka_stream(
    spark: SparkSession, cfg: KafkaTableConfig, broker=None
) -> DataFrame:
    if broker is not None:
        (topic,) = cfg.whitelist_topics  # sim streams are single-topic
        return broker.stream(spark, topic)
    _require_kafka(spark)
    reader = spark.readStream.format("kafka")
    for k, v in reader_options(cfg, streaming=True).items():
        reader = reader.option(k, v)
    return reader.load()


def decode_wire(
    df: DataFrame,
    cfg: KafkaTableConfig,
    mode: str = "PERMISSIVE",
    event_time_field: str | None = None,
    use_jvm_avro: bool | None = None,
    registry=None,
    registry_topic: str | None = None,
) -> DataFrame:
    """Wire rows -> typed rows: decode ``value`` against the declared schema
    (A17/A18) in the configured payload format (A19's decoder knob), keep
    Kafka metadata columns, and derive ``event_time`` with the reference's
    precedence — payload header time, payload timestamp field, then broker
    timestamp (KafkaAvroMessageDecoder.java:194-205, A23).

    Avro decode dispatch (``use_jvm_avro=None`` auto-probes the classpath):
    when the spark-avro module is present, decode stays JVM-side via
    ``from_avro`` — at 100 TB no payload byte should ever cross into Python.
    Without the jar (this container), the Arrow-batched pure-Python wire
    codec (`avro_codec.decode_avro_df`) is the fallback and the test oracle.
    json/csv always use JVM ``from_json``/``from_csv``.

    ``cfg.framing='confluent'`` (the registry wire path the reference
    declares but disables, KafkaAvroMessageDecoder.java:96,131-144): each
    message carries 0x00 + a 4-byte schema id.  Pass ``registry``
    (:class:`~hiveka_spark.sources.schema_registry.FileSchemaRegistry`) +
    ``registry_topic`` to resolve per-record WRITER schemas and surface rows
    under the declared reader schema (Avro resolution: defaults, promotions,
    drops).  The registry is read ONCE on the driver into a plain id->schema
    dict; workers never touch it.  The JVM ``from_avro`` path validates the
    magic byte and strips the header with binary expressions (PERMISSIVE ->
    null row on bad magic, FAILFAST -> raise_error), then decodes against the
    single declared schema — like stock spark-avro it cannot dispatch
    per-record schema ids, so mixed-version topics must use the Python codec
    (``use_jvm_avro=False``) or pre-split by id.
    """
    schema_json = cfg.schema_json()
    payload_fields = {f["name"] for f in json.loads(schema_json)["fields"]}
    keep, renames = [], {}
    for c in WIRE_COLUMNS:
        if c in df.columns and c != "value":
            if c in payload_fields:
                # payload fields win the bare name; wire metadata keeps a
                # kafka_ prefix (the reference's KafkaKey metadata vs payload
                # timestamp distinction, A23)
                renames[c] = f"kafka_{c}"
            keep.append(renames.get(c, c))
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    fmt = cfg.payload_format.lower()
    if fmt == "avro":
        if use_jvm_avro is None:
            use_jvm_avro = avro_jvm_available(df.sparkSession)
        if use_jvm_avro:
            # JVM-side decode: whole-stage-codegen-friendly, zero Python in
            # the payload path (A18 scale path).  PERMISSIVE -> all-null
            # struct on corrupt records, matching the Python codec's
            # null-record treatment.
            from pyspark.sql.avro.functions import from_avro

            value = F.col("value")
            if cfg.framing == "confluent":
                # validate magic + strip the 5-byte header entirely JVM-side
                magic_ok = (F.length(value) >= F.lit(5)) & (
                    F.substring(value, 1, 1) == F.lit(bytes([0]))
                )
                body = F.expr("substring(value, 6, length(value) - 5)")
                parsed = from_avro(body, schema_json, {"mode": mode})
                if mode.upper() == "FAILFAST":
                    # assert_true can't sit in a WHEN branch with from_avro's
                    # struct type; evaluate it as a sibling expression (null
                    # column when ok, raises on the first bad magic byte)
                    decoded = (
                        df.select(
                            *keep,
                            parsed.alias("_payload"),
                            F.assert_true(
                                magic_ok, F.lit("bad confluent magic byte (expected 0x00)")
                            ).alias("_magic_chk"),
                        )
                        .filter(F.col("_magic_chk").isNull())  # keeps _magic_chk live
                        .select(*keep, "_payload.*")
                    )
                else:
                    null_payload = F.lit(None).cast(cfg.spark_struct())
                    parsed = F.when(magic_ok, parsed).otherwise(null_payload)
                    decoded = df.select(*keep, parsed.alias("_payload")).select(
                        *keep, "_payload.*"
                    )
            else:
                parsed = from_avro(value, schema_json, {"mode": mode})
                decoded = df.select(*keep, parsed.alias("_payload")).select(
                    *keep, "_payload.*"
                )
        else:
            schemas_by_id = None
            if cfg.framing == "confluent" and registry is not None:
                topic = registry_topic or (
                    cfg.whitelist_topics[0] if cfg.whitelist_topics else None
                )
                if topic is None:
                    raise ValueError(
                        "confluent decode with a registry needs registry_topic "
                        "(or a single whitelist topic)"
                    )
                schemas_by_id = {
                    v: registry.get(topic, v) for v in registry.versions(topic)
                }
            decoded = decode_avro_df(
                df,
                schema_json,
                mode=mode,
                keep_cols=keep,
                framing=cfg.framing,
                schemas_by_id=schemas_by_id,
            )
    elif fmt in ("json", "csv"):
        struct = cfg.spark_struct()
        text = F.col("value").cast("string")
        if fmt == "json":
            parsed = F.from_json(text, struct, {"mode": mode})
        else:
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in struct.fields)
            parsed = F.from_csv(text, ddl, {"mode": mode})
        decoded = df.select(*keep, parsed.alias("_payload")).select(*keep, "_payload.*")
    else:
        raise ValueError(f"unknown payload_format: {cfg.payload_format}")
    broker_ts = renames.get("timestamp", "timestamp")
    candidates = []
    if event_time_field and event_time_field in decoded.columns:
        dtype = dict(decoded.dtypes)[event_time_field]
        if dtype in ("bigint", "int"):
            # numeric payload time is epoch-millis, as in the reference's
            # header.time / System.currentTimeMillis convention (A23)
            candidates.append(F.timestamp_millis(F.col(event_time_field)))
        else:
            candidates.append(F.col(event_time_field).cast("timestamp"))
    if broker_ts in decoded.columns:
        candidates.append(F.col(broker_ts))
    if candidates:
        decoded = decoded.withColumn("event_time", F.coalesce(*candidates))
    return decoded


def encode_payload(
    df: DataFrame,
    cfg: KafkaTableConfig,
    key_col: str | None = None,
    use_jvm_avro: bool | None = None,
    ts_col: str | None = None,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Rows -> binary Kafka ``value`` (+ optional ``key``) in the table's
    Avro schema.  Same dispatch as :func:`decode_wire`: JVM ``to_avro`` when
    spark-avro is on the classpath, Arrow-batched Python wire codec
    otherwise.  ``ts_col`` rides through as the producer-record
    ``timestamp`` (enables time-based offset resolution on the scan side).

    ``tombstone_col``: boolean column marking rows to emit as REAL Kafka
    tombstones — key set, ``value`` NULL — the record shape a
    ``cleanup.policy=compact`` broker deletes keys on.  Requires
    ``key_col`` (a null-value record without a key compacts nothing).

    ``cfg.framing='confluent'`` prepends 0x00 + big-endian ``cfg.schema_id``
    (the registry version the table schema was registered under — see
    :func:`with_confluent_framing`); on the JVM path the header is a binary
    ``concat``, still zero Python bytes."""
    from hiveka_spark.sources.avro_codec import encode_avro_df

    schema_json = cfg.schema_json()
    if cfg.framing == "confluent" and cfg.schema_id is None:
        raise ValueError(
            "confluent framing needs cfg.schema_id — register the table "
            "schema (with_confluent_framing / FileSchemaRegistry.register)"
        )
    if tombstone_col and not key_col:
        raise ValueError("tombstone_col requires key_col (tombstones are key-only)")
    if use_jvm_avro is None:
        use_jvm_avro = avro_jvm_available(df.sparkSession)
    if use_jvm_avro:
        from pyspark.sql.avro.functions import to_avro

        field_names = [f["name"] for f in json.loads(schema_json)["fields"]]
        value = to_avro(F.struct(*[F.col(n) for n in field_names]), schema_json)
        if cfg.framing == "confluent":
            header = bytes([0]) + int(cfg.schema_id).to_bytes(4, "big")
            value = F.concat(F.lit(header), value)
        if tombstone_col:
            value = F.when(F.col(tombstone_col), F.lit(None).cast("binary")).otherwise(
                value
            )
        cols = [value.alias("value")]
        if key_col:
            cols.insert(
                0, F.col(key_col).cast("string").cast("binary").alias("key")
            )
        if ts_col:
            cols.append(F.col(ts_col).alias("timestamp"))
        return df.select(*cols)
    return encode_avro_df(
        df,
        schema_json,
        key_col=key_col,
        ts_col=ts_col,
        framing=cfg.framing,
        schema_id=cfg.schema_id,
        tombstone_col=tombstone_col,
    )


def with_confluent_framing(cfg: KafkaTableConfig, registry, topic: str) -> KafkaTableConfig:
    """Switch a table config to Confluent wire framing, registering its
    declared schema in ``registry`` under ``topic`` (idempotent: an identical
    latest version is reused, not re-registered).  Returns a NEW config with
    ``framing='confluent'`` and ``schema_id`` set to the registry version —
    the producer-side analog of Confluent's subject registration, completing
    the wire path the reference declares but disables
    (KafkaAvroMessageDecoder.java:96,131-144; SchemaRegistry.java:16-62)."""
    from dataclasses import replace

    schema = json.loads(cfg.schema_json())
    versions = registry.versions(topic)
    if versions and registry.get(topic, versions[-1]) == schema:
        sid = versions[-1]
    else:
        sid = registry.register(topic, schema)
    return replace(cfg, framing="confluent", schema_id=sid)


def write_kafka(
    df: DataFrame,
    cfg: KafkaTableConfig,
    topic: str,
    key_col: str | None = None,
    broker=None,
    ts_col: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """Avro-encode + publish — the real implementation of the reference's
    stub sink (KafkaOutputFormat.java:28-39).  ``broker``: publish into the
    file-backed simulator instead of a live cluster.  ``ts_col``: event-time
    column to stamp as the producer-record timestamp.  ``tombstone_col``:
    boolean column marking rows produced as key-only null-value records
    (real compaction tombstones — see :func:`encode_payload`)."""
    if broker is not None:
        broker.produce(
            encode_payload(
                df, cfg, key_col=key_col, ts_col=ts_col, tombstone_col=tombstone_col
            ),
            topic,
        )
        return
    _require_kafka(df.sparkSession)
    payload = encode_payload(
        df, cfg, key_col=key_col, ts_col=ts_col, tombstone_col=tombstone_col
    )
    (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def register_kafka_table(
    spark: SparkSession,
    name: str,
    cfg: KafkaTableConfig,
    streaming: bool = False,
    broker=None,
    registry=None,
    registry_topic: str | None = None,
) -> DataFrame:
    """Bind a decoded Kafka scan as a named catalog view — the engine's
    CREATE EXTERNAL TABLE (A1).  Every Spark SQL query in queries/ then works
    against it unchanged.  ``broker``: bind against the simulator instead of
    a live cluster (same decode pipeline, same view).  ``registry``: schema
    registry for confluent-framed topics (see :func:`decode_wire`)."""
    raw = (
        read_kafka_stream(spark, cfg, broker=broker)
        if streaming
        else read_kafka_batch(spark, cfg, broker=broker)
    )
    decoded = decode_wire(raw, cfg, registry=registry, registry_topic=registry_topic)
    decoded.createOrReplaceTempView(name)
    return decoded


class OffsetStore:
    """Batch-incremental offset state — parity with the reference's
    kafka_offset_* SequenceFile resume (KafkaInputFormat.java:471-501, A8)
    including the clamp-to-valid-range rule (:369-388, A10).

    State is one JSON file keyed by "topic/partition" -> next offset to read.
    ``resolve_range`` merges persisted state with the broker's
    earliest/latest and returns (startingOffsets, endingOffsets) JSON for a
    batch read; ``commit`` persists the end offsets after a successful run.
    """

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict[str, dict[str, int]]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as fh:
            return json.load(fh)

    def commit(self, end_offsets: dict[str, dict[str, int]]) -> None:
        state = self.load()
        for topic, parts in end_offsets.items():
            cur = state.setdefault(topic, {})
            for part, off in parts.items():
                # monotonic: never move a committed offset backwards (the
                # reference keeps max offset per partition, :489-496)
                cur[part] = max(int(off), int(cur.get(part, 0)))
        commit.write_json(self.path, state)

    def resolve_range(
        self,
        earliest: dict[str, dict[str, int]],
        latest: dict[str, dict[str, int]],
        move_to_latest: set[str] | str = frozenset(),
    ) -> tuple[str, str]:
        """Compute [start, end) offsets per partition.

        - resumed offset below earliest (retention loss) -> clamp to earliest
          (A10's OffsetOutOfRange recovery);
        - resumed offset above latest (bogus state) -> clamp to earliest,
          mirroring the reference's conservative reset (:381-388);
        - topics in ``move_to_latest`` (or 'all') skip history (A9).
        """
        state = self.load()
        start: dict[str, dict[str, int]] = {}
        for topic, parts in latest.items():
            start[topic] = {}
            for part, hi in parts.items():
                lo = earliest.get(topic, {}).get(part, 0)
                if move_to_latest == "all" or topic in move_to_latest:
                    start[topic][part] = hi
                    continue
                resumed = state.get(topic, {}).get(part)
                if resumed is None or resumed < lo or resumed > hi:
                    start[topic][part] = lo
                else:
                    start[topic][part] = resumed
        return json.dumps(start), json.dumps(latest)


def pushdown_time_predicate(
    spark: SparkSession,
    cfg: KafkaTableConfig,
    ts_ms: int,
    broker=None,
) -> KafkaTableConfig:
    """Rewrite ``WHERE timestamp >= X`` on a Kafka batch table into OFFSET
    PRUNING — the optional source-level optimization SURVEY.md §4 names: the
    scan starts at the first offset whose record timestamp reaches the
    cutoff instead of reading the whole retention window and filtering
    (KafkaInputFormat has no predicate handling at all;
    KafkaStorageHandler.java:38-108).

    Against a live cluster this is Spark's native ``startingTimestamp``
    reader option (the broker's time index resolves it); against the
    simulator the offsets resolve eagerly via
    :meth:`SimBroker.offsets_for_times` into explicit startingOffsets.
    Returns a NEW config — the caller registers the table with it; the
    residual ``timestamp >= X`` filter stays in the query for exactness at
    the cutoff boundary (offset pruning is a coarse index, the predicate is
    the contract)."""
    from dataclasses import replace

    if broker is None:
        extra = dict(cfg.extra_options)
        extra["startingTimestamp"] = str(ts_ms)
        return replace(cfg, extra_options=extra)
    topics = [t for t in broker.topics() if re.fullmatch(topic_pattern(cfg.whitelist_topics, cfg.blacklist_topics), t)]
    resolved = {
        t: {p: o for p, o in broker.offsets_for_times(spark, t, ts_ms).items()}
        for t in topics
    }
    return replace(cfg, starting_offsets=resolved)
