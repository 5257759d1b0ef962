"""Versioned keyed-UPSERT sink for foreachBatch streams.

The pattern for maintaining a serving table from a stream when the sink
has no native MERGE (plain parquet, an object store, a dumb KV dump):
each micro-batch is reduced per key and merged into a versioned snapshot
directory ``state_root/v{batch_id}``.  Two properties give Delta/Iceberg
MERGE-style idempotence without a table format:

1. **Version key** — a replayed batch id replaces *its own* version
   directory, never appends, so re-execution cannot double-count.  The
   new version is staged and published through :mod:`hiveka_spark.commit`,
   so the committed version it replaces stays whole until the rename.
2. **Disk-derived predecessor** — the previous-snapshot pointer is
   re-derived from disk at every batch (newest committed ``v{id}`` with
   ``id < batch_id``, see :mod:`hiveka_spark.commit`), never trusted
   from driver memory.  After a driver crash + checkpoint replay
   the replayed batch merges from its true predecessor instead of
   silently restarting from empty state.

Reference parity: the reference has no streaming sink at all (its Kafka
sink is a stub — see ``KafkaOutputFormat.java``); this is the Spark-first
upgrade a production ingest pipeline needs.

Scale shape: each batch does one keyed aggregate of the micro-batch plus
one keyed merge against the previous snapshot — both map-side-combinable
shuffles keyed on the upsert key; snapshot size is bounded by the key
cardinality, not the stream length.  At 100 TB key spaces you would swap
the full-snapshot rewrite for a Delta/Iceberg MERGE (partial-file
rewrite), keeping this exact batch->merge logic.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

from hiveka_spark import commit


class VersionedUpsertSink:
    """foreachBatch callable implementing the versioned keyed upsert.

    Parameters
    ----------
    state_root:
        Directory holding ``v{batch_id}`` snapshot subdirectories.
    batch_reduce:
        DataFrame -> DataFrame; reduces one micro-batch to one row per
        key (the per-batch aggregate).
    merge:
        (prev_snapshot, batch_reduced) -> DataFrame; merges the previous
        snapshot with the reduced batch (e.g. union + re-aggregate).
        Must be associative with ``batch_reduce``'s output.
    """

    def __init__(
        self,
        state_root: str,
        batch_reduce: Callable[[DataFrame], DataFrame],
        merge: Callable[[DataFrame, DataFrame], DataFrame],
        id_offset: int = 0,
        allow_batch0_overwrite: bool = False,
    ) -> None:
        self.state_root = state_root
        self.batch_reduce = batch_reduce
        self.merge = merge
        self.id_offset = id_offset
        self.allow_batch0_overwrite = allow_batch0_overwrite
        self._processed_any = False

    def _committed_versions(self) -> list[int]:
        return sorted(
            commit.version_id(p)
            for p in commit.committed(self.state_root, prefixes=("v",))
        )

    def predecessor_path(self, batch_id: int) -> str | None:
        """Newest committed snapshot strictly before ``batch_id``.

        Re-derived from disk on every call — this, not driver memory, is
        what makes a checkpoint-replayed batch merge from its true
        predecessor after a restart.
        """
        prior = [v for v in self._committed_versions() if v < batch_id]
        return (
            os.path.join(self.state_root, f"v{max(prior)}") if prior else None
        )

    def latest_path(self) -> str | None:
        """Newest committed snapshot overall (the serving view)."""
        versions = self._committed_versions()
        return (
            os.path.join(self.state_root, f"v{max(versions)}")
            if versions
            else None
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_id = batch_id + self.id_offset
        # Version-collision guard (mirrors streaming/neardup.py's id_offset
        # discipline): in a monotone stream a committed version with id
        # STRICTLY ABOVE the current batch can only mean a NEW stream (fresh
        # checkpoint, ids restarted at 0) was pointed at an existing
        # state_root — proceeding would overwrite v0..vN with batch-only
        # data while latest_path() still serves the stale old snapshot.
        # id == batch_id stays allowed: that is this sink's own designed
        # replay-overwrite idempotence.
        committed = self._committed_versions()
        ahead = [v for v in committed if v > batch_id]
        if ahead:
            raise ValueError(
                f"state_root {self.state_root!r} already holds committed "
                f"version v{max(ahead)} > current batch {batch_id}; this is "
                "a new stream over old state — pass "
                f"id_offset > {max(ahead)} to continue into it, or use a "
                "fresh state_root"
            )
        # v0-only ambiguity the strictly-greater check cannot see: this
        # instance's FIRST batch is 0 and v0 is already committed.  Either
        # (a) a crash-before-checkpoint restart is replaying batch 0 (the
        # designed overwrite) or (b) a NEW stream with a fresh checkpoint
        # was pointed at old state and is about to destroy the v0 snapshot.
        # Indistinguishable from here, and (b) is silent data loss — so
        # error with both resolutions unless the caller opted in.
        if (
            batch_id == self.id_offset
            and not self._processed_any
            and batch_id in committed
            and not self.allow_batch0_overwrite
        ):
            raise ValueError(
                f"state_root {self.state_root!r} already holds committed "
                f"version v{batch_id} and this sink instance has processed "
                "no prior batch: either a batch-0 replay after a crash "
                "(pass allow_batch0_overwrite=True to proceed) or a NEW "
                "stream over old state (pass id_offset above the existing "
                "versions, or use a fresh state_root)"
            )
        self._processed_any = True
        reduced = self.batch_reduce(batch_df)
        prev_path = self.predecessor_path(batch_id)
        if prev_path is not None:
            prev = batch_df.sparkSession.read.parquet(prev_path)
            reduced = self.merge(prev, reduced)
        commit.write_version(
            os.path.join(self.state_root, f"v{batch_id}"),
            reduced.write.mode("overwrite").parquet,
        )
