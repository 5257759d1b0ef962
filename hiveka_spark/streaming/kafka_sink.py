"""Streaming Kafka produce sink — the streaming half of the reference's
stubbed write path.

The reference declares a Kafka OutputFormat but returns a ``null``
RecordWriter (``KafkaOutputFormat.java:28-39``); round 2 implemented the
batch produce for real (``kafka_io.write_kafka``).  This module closes the
remaining half: draining a STREAM back into a topic — the shape a live
curation pipeline needs (ingest topic -> curate -> publish curated topic).

Idempotence discipline (the s16/upsert.py pattern, adapted to an
append-only sink): a versioned snapshot sink can overwrite its own batch
directory on replay, but a Kafka log can only append — so replays must be
*skipped*, not overwritten.  Each successfully produced batch writes a
``b{batch_id}`` commit marker under ``commit_root``; a checkpoint-replayed
batch id that already has a marker is dropped before producing.  The
produce->marker pair is not atomic: a crash BETWEEN them re-produces that
one batch on restart (at-least-once for the crashing batch, exactly-once
for every batch that reached its marker).  Against a real cluster the
upgrade is ``streaming/kafka_txn.py``'s TransactionalKafkaSink: one
fenced transactional producer per query, each batch one transaction with
the commit marker INSIDE it, so data+marker become visible atomically and
the window disappears (env-gated live test); the marker protocol here is
the object-store-grade fallback that needs no broker support.

Scale shape: each micro-batch is one map-only Avro encode + one produce —
no shuffle introduced by the sink itself (``encode_payload`` routes by key
hash).  The marker check is one file stat per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hiveka_spark import commit
from hiveka_spark.sources.kafka_io import KafkaTableConfig, write_kafka


class KafkaStreamSink:
    """foreachBatch callable: Avro-encode + produce each micro-batch into a
    Kafka topic with batch-id replay protection.

    Parameters
    ----------
    cfg / topic:
        Table config (schema, framing) and destination topic.
    commit_root:
        Directory for ``b{batch_id}`` commit markers.
    broker:
        ``SimBroker`` to publish into instead of a live cluster (same
        encode pipeline, same markers).
    key_col / ts_col:
        Producer-record key and event-time timestamp columns (routing and
        CreateTime stamping, see ``write_kafka``).
    tombstone_col:
        Optional boolean column; marked rows are produced as key-only
        NULL-value records — real log-compaction tombstones.
    """

    def __init__(
        self,
        cfg: KafkaTableConfig,
        topic: str,
        commit_root: str,
        broker=None,
        key_col: str | None = None,
        ts_col: str | None = None,
        tombstone_col: str | None = None,
    ) -> None:
        self.cfg = cfg
        self.topic = topic
        self.commit_root = commit_root
        self.broker = broker
        self.key_col = key_col
        self.ts_col = ts_col
        self.tombstone_col = tombstone_col
        os.makedirs(commit_root, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_root, f"b{batch_id}")

    def committed_batches(self) -> list[int]:
        return sorted(
            commit.version_id(p)
            for p in commit.committed(self.commit_root, prefixes=("b",))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        marker = self._marker(batch_id)
        if commit.is_committed(marker):
            # checkpoint-replayed batch that already produced: appending
            # again would duplicate messages in the log — drop it.
            return
        write_kafka(
            batch_df,
            self.cfg,
            self.topic,
            key_col=self.key_col,
            broker=self.broker,
            ts_col=self.ts_col,
            tombstone_col=self.tombstone_col,
        )
        commit.write_json(marker, batch_id)
