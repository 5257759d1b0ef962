"""File-backed Kafka broker simulator: the end-to-end harness for the Kafka
table layer in environments with no broker and no spark-sql-kafka jar.

The real connector's contract — topics split into partitions, per-partition
monotonically increasing offsets, earliest/latest bounds, offset-range scans
with out-of-range clamping (failOnDataLoss=false), topic-pattern
subscription — is emulated over parquet: one directory per topic, wire rows
(`key value topic partition offset timestamp timestampType`) stored under
``partition=<p>/``, and a ``_meta.json`` tracking the next offset per
partition (so produced segments append offsets exactly like a log).

This is parity tooling, not a Kafka reimplementation: it lets
``write_kafka`` -> ``read_kafka_batch`` -> ``decode_wire`` ->
``register_kafka_table`` execute against real DataFrames with the reference's
scan/resume semantics (KafkaInputFormat.java:238-400 offset-range pull,
:369-388 clamp recovery, :471-501 incremental resume via OffsetStore), and it
swaps out for the real connector by dropping the ``broker=`` argument.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hiveka_spark import commit

WIRE_DDL = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


class SimBroker:
    """A directory of topics emulating a Kafka cluster's log storage."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- metadata
    def _meta_path(self, topic: str) -> str:
        return os.path.join(self.root, topic, "_meta.json")

    def _load_meta(self, topic: str) -> dict:
        path = self._meta_path(topic)
        if not os.path.exists(path):
            raise ValueError(f"unknown topic {topic!r}")
        with open(path) as fh:
            return json.load(fh)

    def _save_meta(self, topic: str, meta: dict) -> None:
        commit.write_json(self._meta_path(topic), meta)

    def create_topic(self, topic: str, partitions: int = 2) -> None:
        os.makedirs(os.path.join(self.root, topic), exist_ok=True)
        if not os.path.exists(self._meta_path(topic)):
            self._save_meta(
                topic,
                {
                    "partitions": partitions,
                    # next offset to assign / first retained offset, per part
                    "next": {str(p): 0 for p in range(partitions)},
                    "earliest": {str(p): 0 for p in range(partitions)},
                },
            )

    def topics(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def earliest(self) -> dict[str, dict[str, int]]:
        return {t: dict(self._load_meta(t)["earliest"]) for t in self.topics()}

    def latest(self) -> dict[str, dict[str, int]]:
        return {t: dict(self._load_meta(t)["next"]) for t in self.topics()}

    # -------------------------------------------------------------- produce
    def produce(self, payload: DataFrame, topic: str) -> dict[str, int]:
        """Append a (key binary, value binary) DataFrame to the topic log.

        Rows are routed to partitions by key hash (null keys round-robin by
        row id — same spirit as the default partitioner) and receive the
        next offsets in their partition.  Returns rows-per-partition.
        """
        meta = self._load_meta(topic)
        n_parts = int(meta["partitions"])
        cols = payload.columns
        key = F.col("key") if "key" in cols else F.lit(None).cast("binary")
        from pyspark.sql import Window

        w = Window.partitionBy("partition").orderBy(F.monotonically_increasing_id())
        base = F.create_map(
            *[x for p, o in meta["next"].items() for x in (F.lit(int(p)), F.lit(int(o)))]
        )
        # producer-record timestamp: honor an explicit payload column (event
        # time, timestampType=0 CreateTime) else stamp append time (=1)
        has_ts = "timestamp" in cols
        ts = F.col("timestamp") if has_ts else F.current_timestamp()
        routed = payload.select(
            key.alias("key"), F.col("value").alias("value"), ts.alias("timestamp")
        ).withColumn(
            "partition",
            F.when(
                key.isNotNull(), F.pmod(F.crc32(key), F.lit(n_parts))
            )
            .otherwise(F.pmod(F.monotonically_increasing_id(), F.lit(n_parts)))
            .cast("int"),
        )
        wire = routed.select(
            "key",
            "value",
            F.lit(topic).alias("topic"),
            "partition",
            (F.row_number().over(w) - 1 + base[F.col("partition")]).alias("offset"),
            "timestamp",
            F.lit(0 if has_ts else 1).alias("timestampType"),
        )
        # Per-partition counts ride the log-write job as an Observation
        # (n_parts is known, so group-by becomes one count_if per
        # partition): ONE action computes the payload plan — which for the
        # streaming sinks is a full per-batch curation/verification chain —
        # where the old write+groupBy.collect pair computed it twice, and
        # counts can never disagree with the written log because they come
        # from the very job that wrote it (r16, guide §1.2/§5).
        from pyspark.sql import Observation

        obs = Observation()
        wire = wire.observe(
            obs,
            *[
                F.count(F.when(F.col("partition") == p, 1)).alias(f"p{p}")
                for p in range(n_parts)
            ],
        )
        out_dir = os.path.join(self.root, topic)
        wire.write.mode("append").partitionBy("partition").parquet(out_dir)
        got = obs.get
        counts = {
            str(p): int(got[f"p{p}"])
            for p in range(n_parts)
            if int(got[f"p{p}"])
        }
        for p, n in counts.items():
            meta["next"][p] = int(meta["next"].get(p, 0)) + int(n)
        self._save_meta(topic, meta)
        return counts

    def offsets_for_times(
        self, spark: SparkSession, topic: str, ts_ms: int
    ) -> dict[str, int]:
        """Kafka's ``offsetsForTimes``: per partition, the EARLIEST offset
        whose record timestamp is >= ``ts_ms``; partitions with no such
        record resolve to their end offset (Kafka returns null there — the
        caller reads nothing, same effect).  Results clamp to the first
        retained offset.  Correct time->offset pruning assumes timestamps
        are non-decreasing within each partition (true for event-time-ordered
        producers; Kafka itself makes the same monotonicity assumption when
        log.message.timestamp.type=CreateTime segments are time-indexed)."""
        meta = self._load_meta(topic)
        df = spark.read.parquet(os.path.join(self.root, topic))
        hit = (
            df.filter(F.unix_millis("timestamp") >= ts_ms)
            .groupBy("partition")
            .agg(F.min("offset").alias("o"))
        )
        res = {str(r["partition"]): int(r["o"]) for r in hit.collect()}
        return {
            p: max(res.get(p, int(meta["next"][p])), int(meta["earliest"][p]))
            for p in meta["next"]
        }

    def expire(self, topic: str, partition: int, new_earliest: int) -> None:
        """Simulate retention loss: advance the first retained offset.
        (Rows below it stay on disk but scans clamp past them — what matters
        for offset semantics.)"""
        meta = self._load_meta(topic)
        meta["earliest"][str(partition)] = int(new_earliest)
        self._save_meta(topic, meta)

    # ----------------------------------------------------------------- scan
    def _bounds(
        self,
        topics: list[str],
        spec: str | dict,
        fail_on_data_loss: bool,
    ) -> dict[str, dict[str, int]]:
        earliest, latest = self.earliest(), self.latest()
        if isinstance(spec, str) and spec.strip().startswith("{"):
            spec = json.loads(spec)
        out: dict[str, dict[str, int]] = {}
        for t in topics:
            out[t] = {}
            for p in latest[t]:
                lo, hi = int(earliest[t][p]), int(latest[t][p])
                if isinstance(spec, dict):
                    want = int(spec.get(t, {}).get(p, -2))
                else:
                    want = -2 if spec == "earliest" else -1
                # Kafka sentinel offsets: -2 = earliest, -1 = latest
                resolved = lo if want == -2 else hi if want == -1 else want
                if resolved < lo or resolved > hi:
                    if fail_on_data_loss:
                        raise RuntimeError(
                            f"offset {resolved} out of range [{lo},{hi}] for "
                            f"{t}/{p} (failOnDataLoss=true)"
                        )
                    resolved = min(max(resolved, lo), hi)
                out[t][p] = resolved
        return out

    def scan(
        self,
        spark: SparkSession,
        subscribe_pattern: str,
        starting_offsets: str | dict = "earliest",
        ending_offsets: str | dict = "latest",
        fail_on_data_loss: bool = False,
    ) -> DataFrame:
        """Offset-range batch scan of every topic matching the pattern —
        the simulator's KafkaInputFormat.getSplits + fetch loop."""
        topics = [t for t in self.topics() if re.fullmatch(subscribe_pattern, t)]
        if not topics:
            return spark.createDataFrame([], WIRE_DDL)
        start = self._bounds(topics, starting_offsets, fail_on_data_loss)
        end = self._bounds(topics, ending_offsets, fail_on_data_loss)
        bounds = spark.createDataFrame(
            [
                (t, int(p), start[t][p], end[t][p])
                for t in topics
                for p in start[t]
            ],
            "topic string, partition int, _start long, _end long",
        )
        scans = []
        for t in topics:
            # a freshly created (or fully retained-away) topic has metadata
            # but no log segments yet — Kafka serves it as an empty scan,
            # not an error, so the simulator must too.
            segs = glob.glob(os.path.join(self.root, t, "partition=*", "*.parquet"))
            if not segs:
                continue
            df = spark.read.parquet(os.path.join(self.root, t))
            scans.append(df.select(
                "key", "value", F.lit(t).alias("topic"),
                F.col("partition").cast("int").alias("partition"),
                "offset", "timestamp", "timestampType",
            ))
        if not scans:
            return spark.createDataFrame([], WIRE_DDL)
        wire = scans[0]
        for s in scans[1:]:
            wire = wire.unionByName(s)
        return (
            wire.join(F.broadcast(bounds), ["topic", "partition"])
            .filter((F.col("offset") >= F.col("_start")) & (F.col("offset") < F.col("_end")))
            .drop("_start", "_end")
        )

    def stream(
        self, spark: SparkSession, topic: str, max_files_per_trigger: int | None = None
    ) -> DataFrame:
        """The topic log as a file-source micro-batch stream (checkpointable,
        same wire schema) — the simulator's readStream.format('kafka').
        ``max_files_per_trigger`` caps log segments per micro-batch (the
        simulator's maxOffsetsPerTrigger analog) so a drained topic still
        exercises REAL multi-batch processing."""
        reader = spark.readStream.schema(
            "key binary, value binary, offset long, timestamp timestamp, "
            "timestampType int"
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return (
            reader.option("basePath", os.path.join(self.root, topic))
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(self.root, topic, "partition=*"))
            .withColumn("topic", F.lit(topic))
        )
