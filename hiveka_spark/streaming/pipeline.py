"""Structured Streaming pipelines over the engine's tables.

The reference is batch-pull only (each Hive query re-plans offset ranges and
pulls; KafkaInputFormat.java:238-400) with resume state in offset files.  The
Spark-native equivalent is Structured Streaming: checkpointed micro-batches,
event-time watermarks, windowed/sessionized aggregation, stateful dedup,
stream-static joins, foreachBatch sinks.

Broker-less testing: streams come from file sources over parquet (the
driver's `events` fixture, or Avro wire rows produced by sources.producers) —
the DataFrame DAG is identical to a Kafka source's, so every operator here
moves to `readStream.format("kafka")` unchanged.

Scale posture: every aggregation is keyed by (window/session, key) so state
is bounded by watermark retention; `maxFilesPerTrigger`/`maxOffsetsPerTrigger`
give backpressure.

Two drains run a stream to completion under the ``availableNow`` trigger:
:func:`run_available_now` collects it through a memory sink (no recovery),
and :func:`drain` hands each micro-batch to a foreachBatch sink whose
per-batch-id idempotence gives exactly-once output across checkpoint
restarts.  :func:`drain_files` is :func:`drain` over a directory of
parquet files, one file per micro-batch.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hiveka_spark import commit


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The fixture `events` table as a file-source stream with a proper
    event-time `ts` column.

    The file's PHYSICAL ts encoding is not assumed: a cheap batch schema
    probe reads the actual file schema (bigint-nanos under nanosAsLong,
    timestamp_ntz for timestamp[us], or plain timestamp), then the SAME
    shared normalizer as the batch catalog maps it to TimestampType.  A
    hard-coded schema here once silently compressed every event timestamp
    1000x — the probe makes the stream follow the file, not our memory of
    the file.
    """
    from hiveka_spark.catalog import normalize_event_time

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(path):
        file_schema = spark.read.parquet(path).schema  # metadata-only probe
    else:
        # Late-arriving file: start the stream on the fixture's documented
        # layout (TESTDATA.md, timestamp[us] -> TIMESTAMP_NTZ).  The
        # normalizer below sees only this DECLARED schema, not the file: a
        # late file that lands with a DIFFERENT ts encoding (e.g.
        # bigint-nanos) fails loudly at the first micro-batch read — which
        # is the intended behavior; the declared schema is the stream's
        # contract, and guessing-then-silently-coercing is how the 1000x
        # timestamp compression bug happened (ADVICE r4: the old comment
        # claimed the normalizer would adapt; it cannot).
        import warnings

        warnings.warn(
            f"events stream started before {path} exists; pinning the "
            "documented TIMESTAMP_NTZ layout — a file arriving with a "
            "different ts encoding will fail at first read",
            RuntimeWarning,
            stacklevel=2,
        )
        file_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
    reader = (
        spark.readStream.schema(file_schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(sf_dir)
    return normalize_event_time(df, "ts")


def tumbling_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type (the streaming
    twin of queries q21_hourly_windows)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows (inactivity gap) per user — the streaming twin of the
    batch lag+cumsum sessionization (q22)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful streaming dedup: exactly-one-row-per-key within the watermark
    horizon (state expires with the watermark — bounded memory at any scale)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates([*keys, ts_col])


def stream_static_join(stream: DataFrame, static_dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: the static side is broadcast per micro-batch (no
    state); the standard enrichment pattern."""
    return stream.join(F.broadcast(static_dim), on)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str | None = None,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    left_key: str | None = None,
    right_key: str | None = None,
) -> DataFrame:
    """Stream-stream equi-join with a time-range condition: right event must
    fall in [left_ts, left_ts + within].

    Both sides are watermarked and the join condition bounds event-time
    distance, so each side's buffered state is evictable once the watermark
    passes — the REQUIRED shape for an unbounded stream-stream join (an
    unconstrained one buffers both streams forever).  The join key is the
    shuffle key; the range condition filters within each key group.

    Key naming: pass ``on`` when both sides share the key column name
    (inner-join convenience; drop the duplicate afterwards), or distinct
    ``left_key``/``right_key`` — required for OUTER joins, where each side's
    key must survive as its own nullable column (s13/s14).
    """
    lk = left_key or on
    rk = right_key or on
    if lk is None or rk is None:
        raise ValueError("pass on= (shared name) or left_key=/right_key=")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{lk}") == F.col(f"r.{rk}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain everything currently available through a memory sink and return
    the result as a DataFrame.  availableNow = process-all-then-stop, the
    batch-like harness for deterministic streaming tests.

    ``shuffle_partitions`` bounds the STATE partition count for stateful
    queries (captured from the session conf at query start and pinned into
    the checkpoint): per-partition state-store + Python-worker setup is a
    fixed cost, so a keyed stream with few distinct keys should run ~n_keys
    partitions, not the session-wide default sized for 100 TB batch shuffles.
    The prior conf is restored after the drain."""
    spark = stream_df.sparkSession
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = writer.start()  # physical planning reads the conf here
        q.awaitTermination()
    finally:
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.sql(f"SELECT * FROM {name}")


def drain(
    stream_df: DataFrame, sink, checkpoint: str, output_mode: str = "append"
) -> None:
    """Run ``stream_df`` through the foreachBatch ``sink`` until everything
    available now is processed.

    The sink contract: ``sink(batch_df, batch_id)`` must be idempotent per
    ``batch_id`` (publish each batch's output by id through
    :mod:`hiveka_spark.commit`, or gate it on a per-id marker), because a
    restart on the same ``checkpoint`` replays the last uncommitted batch.
    Source offsets, keyed state and batch ids resume from ``checkpoint``;
    only new input is processed."""
    (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def drain_files(spark: SparkSession, src_dir: str, sink, checkpoint: str) -> None:
    """:func:`drain` over the parquet files of ``src_dir``, one file per
    micro-batch, read with the files' own schema: a dir of n files gives
    batch ids 0..n-1, and a second call on the same ``checkpoint`` calls
    ``sink`` only for files added since."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    drain(stream, sink, checkpoint)


def run_foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint: str, output_mode: str = "append"
) -> None:
    """:func:`drain` into parquet: micro-batch ``batch_id`` is published as
    ``out_dir/batch=<batch_id>`` through :mod:`hiveka_spark.commit`.
    Unlike the memory sink this supports checkpoint recovery: a restarted
    query resumes source offsets and keyed state and continues batch ids."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit.write_version(
            os.path.join(out_dir, f"batch={batch_id}"),
            batch_df.write.mode("overwrite").parquet,
        )

    drain(stream_df, sink, checkpoint, output_mode)
