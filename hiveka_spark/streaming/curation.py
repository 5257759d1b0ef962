"""Live end-to-end curation pipeline: ingest topic -> curate -> curated topic.

The streaming twin of x60's composed batch pipeline and the shape the
reference's README sketches (topic in -> query -> topic out): documents
arrive as Avro wire records on an ingest topic, each micro-batch is decoded
and pushed through the batch operators' own stage chain — Gopher rules
(operators/text.py, stateless), eval-shingle CONTAINMENT decontamination
(operators/dedup.py bloom_probe: Bloom bitset upper bound + broadcast
exact-hit count in one pass; a doc flags iff >= half its distinct shingles
are eval shingles — x68's rule at doc granularity, stateless), MinHash
band-index near-dup dedup (the s19 persisted-index discipline, the only
stateful stage) — and
the surviving documents are produced onto a LOG-COMPACTED curated topic
through the marker-protected Kafka sink (streaming/kafka_sink.py).

Retraction, not reordering: near-dup survivorship is "the smallest doc_id
of a dup group wins" (x60's batch rule — a doc is dropped iff it verifies
against a smaller-id participant).  A stream cannot apply that rule at
emission time, because the smaller partner may ARRIVE LATER than a doc
that was already produced.  Instead of holding emissions back, the sink
embraces Kafka log-compaction semantics: every kept doc is produced as an
upsert record (key=doc_id, Avro payload) immediately, and when a later
batch discovers that an already-indexed doc lost to a newly arrived
smaller id, it produces a REAL TOMBSTONE for the same key — key set,
``value`` NULL, the exact record shape a ``cleanup.policy=compact``
broker deletes keys on (no application-level delete flag; a stock
consumer of the compacted topic observes the deletion).  Under
last-record-per-key compaction the topic therefore CONVERGES to exactly
the batch answer for ANY arrival order — the standard CDC/compacted-topic
pattern, and the reason the convergence oracle can be exact.

Replay safety composes from the parts: dedup state dirs are versioned by
batch id and published through :mod:`hiveka_spark.commit`, so a replayed
batch replaces its own version whole; the produce
step is marker-gated (kafka_sink.py) so a checkpoint-replayed batch never
appends twice; and even a crash in the produce->marker window only
duplicates records whose keys compact away (an extra upsert or tombstone
with an identical predecessor changes nothing after compaction) — upsert
payloads are a pure function of the doc, so re-produced records are
byte-identical.  Pinned in tests/test_streaming_curation.py: fresh sink
objects on a continued checkpoint, marker replay leaving the log
byte-identical, the produce->marker crash window, and arrival-order
convergence.

Scale shape per micro-batch: Gopher and Bloom are zero-shuffle map stages
(the bitset is 32 KiB of literal plan data); the dedup stage is one
signature aggregate over the BATCH only plus one (band, bh)-keyed equi-join
against the committed index — never a corpus rescan, never all-pairs; the
produce is map-only Avro encode.  At 100 TB the index is the only growing
state, with the same bucketing/compaction story as streaming/neardup.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hiveka_spark.sources.kafka_io import (
    KafkaTableConfig,
    decode_wire,
    read_kafka_batch,
)
from hiveka_spark.streaming.neardup import (
    band_index_step,
    committed_versions,
    compact_band_index,
)


class StreamCurationSink:
    """foreachBatch callable running the full curation chain on each decoded
    micro-batch of (doc_id, text, lang, n_chars) rows.

    Parameters
    ----------
    state_root:
        Root for the dedup band index (``bands/b{id}``, ``sh/b{id}``).
    produce_sink:
        Produce sink for the curated topic — any ``(batch_df, batch_id)``
        callable honoring the key/tombstone contract: the marker-protected
        :class:`KafkaStreamSink` (object-store-grade default, works against
        the simulator), or a
        :class:`~hiveka_spark.streaming.kafka_txn.TransactionalKafkaSink`
        for broker-grade exactly-once where a live cluster exists (the
        composition is env-gated in tests/test_kafka_live.py::
        test_curation_over_transactional_sink — zero protocol change, the
        seam is shared).  Its payload schema must be
        ``doc_id BIGINT, lang STRING, n_chars BIGINT`` and it must be
        constructed with ``tombstone_col="_tombstone"`` so retractions go
        out as real null-value records.
    bitset / ev_sh:
        Pre-built Bloom bitset literal + eval shingle frame
        (``operators.dedup.build_bloom_bitset`` / ``eval_shingle_set``) —
        built ONCE before the stream starts; pure plan data reused by every
        micro-batch.
    """

    def __init__(
        self,
        state_root: str,
        produce_sink,  # KafkaStreamSink | TransactionalKafkaSink (see class doc)
        bitset,
        ev_sh: DataFrame,
        num_perm: int = 32,
        bands: int = 8,
        k: int = 3,
        threshold: float = 0.8,
        bloom_m: int = 2**18,
        bloom_h: int = 3,
        contain_pct: int = 50,
        compact_after: int | None = None,
        payload_cols: tuple[str, ...] = ("lang", "n_chars"),
    ) -> None:
        self.state_root = state_root
        self.produce_sink = produce_sink
        self.bitset = bitset
        self.ev_sh = ev_sh
        self.num_perm, self.bands, self.k = num_perm, bands, k
        self.threshold = threshold
        self.bloom_m, self.bloom_h = bloom_m, bloom_h
        self.contain_pct = contain_pct
        # payload columns produced alongside doc_id (must match the produce
        # sink's DDL; tombstones carry typed NULLs for every one).  The s24
        # token-manifest pipeline carries ("text", "lang", "n_chars") so the
        # curated topic is self-contained for downstream tokenization.
        self.payload_cols = payload_cols
        # auto-compaction policy for the dedup band index (the s19/x70
        # knob): fold bands+sh into one c{top} segment whenever the
        # committed version count reaches this, between micro-batches
        self.compact_after = compact_after
        self.bands_root = os.path.join(state_root, "bands")
        self.sh_root = os.path.join(state_root, "sh")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from hiveka_spark.operators import dedup as D
        from hiveka_spark.operators.text import with_gopher_rules

        # stage 1+2 (stateless): Gopher rule chain, then the Bloom probe on
        # the survivors; participants are persisted (LAZY — the shingle
        # write below is the first action and materializes the cache, so
        # no dedicated job pays for the materialization) so the three
        # downstream consumers (shingle write, band write, produce) don't
        # re-run tokenization — bounded by one micro-batch, unpersisted at
        # batch end.
        keep_cols = ["doc_id", "text", *[c for c in self.payload_cols if c != "text"]]
        g = (
            with_gopher_rules(batch_df)
            .filter(F.col("keep") == 1)
            .select(*keep_cols)
        )
        # the flag rule is CONTAINMENT, not any-hit: a doc is contaminated
        # iff >= contain_pct% of its distinct shingles are eval shingles
        # (x68's semantics at doc granularity; any-hit would nuke the whole
        # corpus whenever eval/train share common phrases).  bloom_probe
        # computes both the bitset upper bound and the broadcast exact-hit
        # count in one pass; the decision uses the exact count, all-bigint.
        flagged = (
            D.bloom_probe(
                g, self.bitset, self.ev_sh, "doc_id", "text",
                k=self.k, m_bits=self.bloom_m, n_hashes=self.bloom_h,
            )
            .filter(
                F.col("n_exact_hits") * 100
                >= F.lit(self.contain_pct) * F.col("n_shingles")
            )
            .select(F.col("doc").alias("doc_id"))
        )
        from pyspark import StorageLevel

        part = g.join(flagged, "doc_id", "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )

        # stage 3 (stateful): the s19 band-index step against every
        # committed prior version
        pairs = band_index_step(
            part, self.state_root, batch_id,
            committed_versions(self.bands_root, batch_id),
            committed_versions(self.sh_root, batch_id),
            self.num_perm, self.bands, self.k, self.threshold,
        )

        # survivorship: every verified pair's id_b loses (x60's batch rule).
        # id_b in THIS batch  -> never produced (dropped before emission);
        # id_b in the index   -> already produced in an earlier batch ->
        #                        TOMBSTONE it (key-only null-value record);
        #                        broker compaction converges the topic to
        #                        the batch answer.
        batch_ids = part.select("doc_id")
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        drops_here = losers.join(batch_ids, "doc_id", "semi")
        payload = [
            F.col(c).cast("bigint").alias(c) if c == "n_chars" else F.col(c)
            for c in self.payload_cols
        ]
        payload_types = {
            c: "bigint" if c == "n_chars" else part.schema[c].dataType.simpleString()
            for c in self.payload_cols
        }
        tombstones = losers.join(batch_ids, "doc_id", "anti").select(
            "doc_id",
            *[
                F.lit(None).cast(payload_types[c]).alias(c)
                for c in self.payload_cols
            ],
            F.lit(True).alias("_tombstone"),
        )
        kept = part.join(drops_here, "doc_id", "left_anti").select(
            "doc_id",
            *payload,
            F.lit(False).alias("_tombstone"),
        )
        try:
            self.produce_sink(kept.unionByName(tombstones), batch_id)
        finally:
            part.unpersist()

        if (
            self.compact_after is not None
            and len(committed_versions(self.bands_root, 10**9)) >= self.compact_after
        ):
            # before=batch_id: the replay rule of hiveka_spark.commit
            compact_band_index(
                batch_df.sparkSession, self.state_root, before=batch_id
            )


def curated_topic_config(
    bootstrap: str, topic: str, with_text: bool = False
) -> KafkaTableConfig:
    """Table config for the compacted curated topic (upsert payload schema
    shared by the sink and the read-back; deletes are wire-level
    tombstones — null value — not a payload field).  ``with_text``: carry
    the document text in the payload (the s24 token-manifest pipeline,
    where the curated topic must be self-contained for tokenization)."""
    text = "text STRING, " if with_text else ""
    return KafkaTableConfig(
        bootstrap_servers=bootstrap,
        whitelist_topics=[topic],
        ddl=f"doc_id BIGINT, {text}lang STRING, n_chars BIGINT",
    )


def read_compacted(
    spark: SparkSession,
    cfg: KafkaTableConfig,
    broker=None,
    payload_cols: tuple[str, ...] = ("lang", "n_chars"),
    start_offsets: dict[int, int] | None = None,
) -> DataFrame:
    """Read a curated topic back under LOG-COMPACTION semantics: for each
    KEY the LAST record (by offset; keys are routed to one partition, so
    per-partition offsets totally order each key's history) wins, and a
    winning null-value record — a real Kafka tombstone — deletes the key.
    This is the retention rule a ``cleanup.policy=compact`` broker applies
    server-side; it is computed here (over the wire frame, BEFORE decode,
    exactly as the broker sees records: opaque key/value bytes) so the
    convergence contract can be asserted against an uncompacted simulator
    log.  Against a broker that has already compacted, the same plan is a
    no-op pass-through: every surviving key has one record and no
    tombstones remain past the delete-retention horizon.

    Compacted topics are KEYED by contract: a real broker REJECTS an
    unkeyed produce to a ``cleanup.policy=compact`` topic
    (InvalidRecordException), so null-key records cannot exist there —
    any present in an uncompacted simulator log (a producer run without
    ``key_col``) are dropped up front rather than silently collapsing
    into one shared window partition where all but one would vanish.

    ``start_offsets`` (the INCREMENTAL-consumer posture, gate s26): a
    {partition: first_unconsumed_offset} map — only records AT OR PAST
    their partition's start offset participate, i.e. the records appended
    since the caller's last read (the A8 offset-resume contract applied to
    a batch read-back).  Last-per-key over the NEW suffix alone is sound
    because offsets only grow: a key's newest record overall either IS in
    the suffix (upsert -> it is the delta row; tombstone -> the key is
    dropped here and dies in the caller's live-key join) or the key had no
    new records and is not in the delta at all.  Prior batches' payloads
    are therefore NEVER re-read — the offset predicate prunes them at the
    scan.

    Scale shape: one scan of the topic (offset-pruned in delta mode), one
    key-keyed window (the max-offset argmax), then Avro decode of only
    the survivors."""
    from pyspark.sql import Window

    wire = read_kafka_batch(spark, cfg, broker=broker).filter(
        F.col("key").isNotNull()
    )
    if start_offsets is not None:
        start = F.create_map(
            *[F.lit(x) for kv in start_offsets.items() for x in kv]
        )
        wire = wire.filter(
            F.col("offset")
            >= F.coalesce(
                F.element_at(start, F.col("partition").cast("int")), F.lit(0)
            )
        )
    w = Window.partitionBy("key").orderBy(F.col("offset").desc())
    last = (
        wire.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("value").isNotNull())
        .drop("_rn")
    )
    dec = decode_wire(last, cfg)
    return dec.select(
        "doc_id",
        *[
            F.col(c).cast("bigint").alias(c) if c == "n_chars" else F.col(c)
            for c in payload_cols
        ],
    )
