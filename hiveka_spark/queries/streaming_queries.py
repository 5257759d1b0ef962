"""Structured Streaming inventory entries — the engine's streaming surface
run through the same correctness gate as batch queries.

The reference's "streaming" is repeated batch pulls of new offset ranges
(KafkaInputFormat.java:471-501 resume + TODO.md:6-9 queries on top); the
Spark-native equivalent is a real micro-batch stream.  Each entry here runs
a file-source or simulated-Kafka stream (the same DataFrame DAG as a Kafka
source) to completion and returns the drained result, so the correctness
gate can hash-compare it against a batch DuckDB oracle: the streaming plan
must converge to the batch answer.  Checkpoints go to fresh temp dirs — each
invocation is a fresh run, not a resume.  Two drains of
:mod:`hiveka_spark.streaming.pipeline` run every stream:

- s01–s15, s17 and s18 collect through the memory sink
  (``run_available_now``, via :func:`_drain`).  Complete output mode is
  used for windowed aggregations (no rows withheld by the final
  watermark), append for dedup, and each pins a state partition count
  sized to its key cardinality at gate scale (per-partition state-store
  setup is a fixed cost); production deployments size this to their
  cluster instead.
- s16 and s19–s33 hand each micro-batch to an idempotent foreachBatch
  sink (``drain``).  The file-stream entries write their input as 4
  parquet files and drain one file per micro-batch (``drain_files``), so
  every sink runs 4 real micro-batches; s23–s26 drain a raw Kafka topic
  through the live curation sink (:func:`_live_curation`).
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hiveka_spark.queries import register
from hiveka_spark.scratch import scratch_dir
from hiveka_spark.streaming import pipeline as P


def _drain(
    df: DataFrame, name: str, output_mode: str, shuffle_partitions: int | None = None
) -> DataFrame:
    return P.run_available_now(
        df,
        name,
        output_mode=output_mode,
        checkpoint=scratch_dir(prefix=f"ckpt_{name}_"),
        shuffle_partitions=shuffle_partitions,
    )


def _upsert_snapshot(
    spark: SparkSession, src_dir: str, name: str, batch_reduce, merge
) -> DataFrame:
    """Drain the files of ``src_dir`` through a
    :class:`~hiveka_spark.streaming.upsert.VersionedUpsertSink` and return
    its final snapshot."""
    from hiveka_spark.streaming.upsert import VersionedUpsertSink

    sink = VersionedUpsertSink(
        scratch_dir(prefix=f"gate_{name}state_"), batch_reduce, merge
    )
    P.drain_files(spark, src_dir, sink, scratch_dir(prefix=f"ckpt_{name}_"))
    final = sink.latest_path()
    assert final is not None
    return spark.read.parquet(final)


@register(
    "s01_stream_hourly_windows",
    oracle="""
    SELECT CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS window_start_ms,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "watermark"),
)
def s01_stream_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour windows over the event stream, drained with
    availableNow in complete mode — must equal the batch hourly aggregation
    (q21's oracle, window starts as epoch millis)."""
    stream = P.events_stream(spark, sf_dir)
    agg = P.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    out = _drain(agg, "s01_hourly", "complete", shuffle_partitions=8)
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "cnt",
        "total_value",
    )


@register(
    "s02_stream_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, epoch_ms(ts) AS ms,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_ms(ts)) > 1800000 THEN 1
                  WHEN LAG(epoch_ms(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_ms(ts)) IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ms,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ms) AS session_start_ms,
           MAX(ms) + 1800000 AS session_end_ms,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session-window", "stateful"),
)
def s02_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min inactivity gap) per user.  Spark's
    session_window end is last-event-time + gap, so the batch oracle is the
    lag/cumsum sessionization (q22's shape) with MAX(ms) + gap as the end.
    Timestamps are microsecond-truncated on the Spark side and ms-exact in
    the fixture, so epoch-millis compare exactly."""
    stream = P.events_stream(spark, sf_dir)
    sess = P.session_counts(stream, gap="30 minutes", watermark="2 hours")
    out = _drain(sess, "s02_sessions", "complete", shuffle_partitions=8)
    return out.select(
        "user_id",
        F.unix_millis("session_start").alias("session_start_ms"),
        F.unix_millis("session_end").alias("session_end_ms"),
        "n_events",
    )


@register(
    "s04_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "stream-stream"),
)
def s04_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: click stream joined to purchase stream on user
    within a 1-hour event-time range.  Watermarks + the range condition bound
    both sides' join state; drained availableNow it must equal the batch
    time-range join."""
    src = P.events_stream(spark, sf_dir)
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    joined = P.stream_stream_join(
        clicks, purchases, on="user_id", left_ts="c_ts", right_ts="p_ts",
        within="1 hour", watermark="2 hours",
    )
    out = _drain(joined.drop(joined["r.user_id"]), "s04_ssj", "append", shuffle_partitions=8)
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("gap_ms"),
    )


@register(
    "s05_stream_sliding_windows",
    oracle="""
    SELECT (CAST(FLOOR(epoch_ms(ts) / 1800000) AS BIGINT) - t.i) * 1800000
             AS window_start_ms,
           event_type,
           COUNT(*) AS cnt
    FROM events, range(2) AS t(i)
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "sliding"),
)
def s05_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows advancing every 30 minutes over the event
    stream.  Each event lands in exactly window/slide = 2 windows, so the
    batch oracle replays the assignment by cross-joining each event with
    i in {0,1} and deriving window_start = slide-aligned bucket - i*slide."""
    stream = P.events_stream(spark, sf_dir)
    agg = P.sliding_counts(stream, window="1 hour", slide="30 minutes", watermark="2 hours")
    out = _drain(agg, "s05_sliding", "complete", shuffle_partitions=8)
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "cnt",
    )


@register(
    "s06_stream_static_enrich",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    tags=("streaming", "join", "stream-static"),
)
def s06_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined per micro-batch to
    the static customer dimension (broadcast, no join state), then a running
    aggregate per nation drained in complete mode.  The standard "enrich a
    firehose with a dimension table" pattern — at 100 TB the dim stays
    broadcast-sized while the stream side never shuffles for the join."""
    from hiveka_spark.catalog import table

    stream = P.events_stream(spark, sf_dir)
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("nationkey")
    )
    enriched = P.stream_static_join(stream, customer, on="user_id")
    agg = enriched.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    out = _drain(agg, "s06_enrich", "complete", shuffle_partitions=8)
    return out.select("nationkey", "n_events", "total_value")


@register(
    "s07_stateful_funnel",
    # The per-user state machine replayed as a recursive CTE: one iteration
    # per event rank, carrying `pending` (earliest unconverted click) exactly
    # as the streaming transition does.  (A list_reduce fold would be more
    # direct but DuckDB 1.0 hangs on table-sourced folds with branching
    # lambdas, so the recursion is the portable formulation.)
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type AS t, epoch_ms(ts) AS ms,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    machine AS (
      SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS pending,
             CAST(NULL AS BIGINT) AS emit_first, CAST(NULL AS BIGINT) AS emit_conv
      FROM (SELECT DISTINCT user_id FROM ev)
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN e.t = 'click' AND m.pending IS NULL THEN e.ms
                  WHEN e.t = 'purchase' THEN CAST(NULL AS BIGINT)
                  ELSE m.pending END,
             CASE WHEN e.t = 'purchase' AND m.pending IS NOT NULL
                       AND e.ms - m.pending <= 3600000 THEN m.pending END,
             CASE WHEN e.t = 'purchase' AND m.pending IS NOT NULL
                       AND e.ms - m.pending <= 3600000 THEN e.ms END
      FROM machine m JOIN ev e ON e.user_id = m.user_id AND e.rn = m.rn + 1
    )
    SELECT user_id, emit_first AS first_ms, emit_conv AS converted_ms,
           emit_conv - emit_first AS gap_ms
    FROM machine WHERE emit_first IS NOT NULL
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def s07_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): click→purchase
    conversion detection within a 1-hour horizon, per user, with the pending
    click carried in keyed state across micro-batches.  The oracle replays
    the same per-key transition as a recursive CTE (one step per event rank),
    so the entry is fully hash-checked; `tests/test_stateful.py` additionally
    pins the transition semantics on a hand-built sequence.  Both sides
    break same-ms ties on event_id (ADVICE r4: without a total per-user
    order the hash check is latently flaky under same-ms fixtures)."""
    from hiveka_spark.streaming.stateful import funnel_detect

    stream = P.events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms"), "event_id"
    )
    # few hundred active keys at gate scale: 8 state partitions, not the
    # session's batch-sized default — per-partition state-store + Python
    # worker setup is the dominant cost for small keyed state (VERDICT r1 #4)
    out = _drain(
        funnel_detect(stream, horizon_ms=3_600_000, tiebreak="event_id"),
        "s07_funnel", "append",
        shuffle_partitions=8,
    )
    return out.select("user_id", "first_ms", "converted_ms", "gap_ms")


@register(
    "s08_stateful_running_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def s08_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful running aggregates (applyInPandasWithState): per-user
    (count, sum) emitted after every micro-batch from carried state.  The
    update-mode sink holds one emission per (user, batch-that-touched-it);
    the entry reduces to the FINAL emission per user (max_by on the
    monotonically-growing running count), so the result equals the batch
    group-by no matter how the drain splits into micro-batches — exactness
    does not depend on the fixture being a single file (VERDICT r1 #5;
    multi-batch drains are pinned in tests/test_streaming.py)."""
    from hiveka_spark.streaming.stateful import final_running_stats, running_user_stats

    stream = P.events_stream(spark, sf_dir)
    out = _drain(running_user_stats(stream), "s08_running", "update", shuffle_partitions=8)
    final = final_running_stats(out)
    return final.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


@register(
    "s03_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(FLOOR(epoch_ms(ts) / 60000) AS BIGINT) AS minute_bucket
    FROM events
    """,
    tags=("streaming", "dedup", "stateful"),
)
def s03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type, minute bucket):
    dropDuplicates state bounded by the watermark horizon.  Only key columns
    are emitted (which physical row survives is undefined in both engines),
    so the oracle is SELECT DISTINCT."""
    stream = P.events_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id",
        "event_type",
        F.floor(F.unix_millis("ts") / 60000).cast("bigint").alias("minute_bucket"),
        F.col("ts"),
    )
    dedup = keyed.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "event_type", "minute_bucket"]
    )
    out = _drain(dedup, "s03_dedup", "append", shuffle_partitions=16)
    return out.select("user_id", "event_type", "minute_bucket")


@register(
    "s09_stream_dedup_ttl",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark", "state-ttl"),
)
def s09_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with TTL-bounded state: dropDuplicatesWithinWatermark
    keeps per-key state only until the watermark passes first-seen event time
    + delay, so state size is bounded by the key-arrival rate x delay — the
    variant of s03 that survives an unbounded 100 TB stream (plain
    dropDuplicates state grows forever when the dedup key excludes event
    time).  The 90-day delay here exceeds the fixture's 30-day span, so no
    state expires mid-run and the drained result is exactly DISTINCT(user_id,
    event_type); production pipelines dial the delay down to their real
    duplicate horizon."""
    stream = P.events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "90 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = _drain(deduped, "s09_dedup_ttl", "append", shuffle_partitions=16)
    return out.select("user_id", "event_type")


@register(
    "s10_stream_window_topk",
    oracle="""
    WITH h AS (SELECT CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT)
                        AS window_start_ms,
                      event_type, COUNT(*) AS cnt
               FROM events GROUP BY 1, 2)
    SELECT window_start_ms, event_type, cnt, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start_ms
                                       ORDER BY cnt DESC, event_type) AS rnk
          FROM h)
    WHERE rnk <= 3
    """,
    tags=("streaming", "window", "topk"),
)
def s10_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: watermarked tumbling-hour counts drained in complete
    mode, then a per-window top-3 rank over the drained sink table.  Ranking
    is not expressible inside a streaming aggregation (no windows-over-aggs
    mid-stream); the idiomatic Spark shape is stream-aggregate -> finalize
    per trigger (foreachBatch in production, post-drain here) — the rank
    runs over the tiny aggregated table, never the raw stream."""
    from pyspark.sql import Window

    stream = P.events_stream(spark, sf_dir)
    agg = P.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    out = _drain(agg, "s10_topk", "complete", shuffle_partitions=8)
    w = Window.partitionBy("window_start").orderBy(F.col("cnt").desc(), "event_type")
    return (
        out.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            F.unix_millis("window_start").alias("window_start_ms"),
            "event_type",
            "cnt",
            "rank",
        )
    )


@register(
    "s11_transform_with_state",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value, MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "stateful", "transformWithState"),
)
def s11_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via the Spark 4 ``transformWithState``
    StatefulProcessor API (typed ValueState, successor to
    applyInPandasWithState): per-(user, event_type) running (count, sum,
    max) emitted each micro-batch, reduced to the final emission per key
    (monotone count max_by) so the drain equals the batch group-by under any
    batch split.  Dispatches to an applyInPandasWithState twin with
    identical emissions when the transformWithState Python runtime is
    unavailable (no protobuf in this container — stateful.tws_available)."""
    from hiveka_spark.streaming.stateful import final_type_stats, running_type_stats

    stream = P.events_stream(spark, sf_dir)
    out = _drain(
        running_type_stats(stream), "s11_tws", "update", shuffle_partitions=8
    )
    final = final_type_stats(out)
    return final.select(
        "user_id",
        "event_type",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "max_value",
    )


@register(
    "s12_stream_distinct_users",
    oracle="""
    SELECT CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS window_start_ms,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tags=("streaming", "distinct", "dedup", "window"),
)
def s12_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT aggregation — two stateful operators chained:
    watermark-bounded dropDuplicates on (user, hour) feeds a tumbling-hour
    count, so each user counts once per window (exact streaming
    count-distinct; the HLL sketch alternative is q36's rows-only entry).
    Drained in complete mode and hash-checked against the batch
    COUNT(DISTINCT)."""
    stream = P.events_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id",
        F.floor(F.unix_millis("ts") / 3600000).cast("bigint").alias("hour_bucket"),
        "ts",
    )
    dedup = keyed.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "hour_bucket"]
    )
    agg = dedup.groupBy("hour_bucket").agg(F.count(F.lit(1)).alias("n_users"))
    out = _drain(agg, "s12_distinct", "complete", shuffle_partitions=8)
    return out.select(
        (F.col("hour_bucket") * 3600000).alias("window_start_ms"),
        "n_users",
    )


@register(
    "s13_stream_stream_left_outer",
    # The outer side's emission rule is replayed exactly: an unmatched click
    # emits its null row once the GLOBAL watermark (min over both inputs'
    # max event time, minus the 2h delay) passes the end of its 1h join
    # window; clicks whose window is still open at the final watermark stay
    # withheld in state.  All sf fixtures have zero exact-boundary rows
    # (c_ts + 1h == watermark), so <' vs '<=' eviction cannot flip the hash.
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS cms
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS pms
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(cms) FROM c), (SELECT MAX(pms) FROM p))
                    - 7200000 AS w),
    m AS (SELECT c.click_id, c.user_id, p.purchase_id, p.pms - c.cms AS gap_ms
          FROM c JOIN p ON c.user_id = p.user_id
                       AND p.pms >= c.cms AND p.pms <= c.cms + 3600000)
    SELECT click_id, user_id, purchase_id, gap_ms FROM m
    UNION ALL
    SELECT c.click_id, c.user_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM c, wm
    WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                        AND p.pms >= c.cms AND p.pms <= c.cms + 3600000)
      AND c.cms + 3600000 < wm.w
    """,
    tags=("streaming", "join", "stream-stream", "outer", "watermark"),
)
def s13_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click either pairs with a
    purchase in its 1-hour window or emits a null-purchase row once the
    watermark proves no match can still arrive — the state-eviction
    semantics that make outer joins possible on unbounded streams (an
    unmatched row cannot emit until the watermark closes its window;
    rows whose window is still open when the drain ends stay withheld).
    The oracle replays the final-watermark cutoff exactly, so this entry
    hash-checks the eviction rule itself, not just the join."""
    src = P.events_stream(spark, sf_dir)
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = P.stream_stream_join(
        clicks, purchases, left_key="user_id", right_key="p_user",
        left_ts="c_ts", right_ts="p_ts", within="1 hour", watermark="2 hours",
        how="left_outer",
    )
    out = _drain(joined, "s13_ssj_outer", "append", shuffle_partitions=8)
    return out.select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("gap_ms"),
    )


@register(
    "s14_stream_stream_full_outer",
    # Both sides' eviction replayed: an unmatched CLICK emits once the global
    # watermark passes c_ts + 1h (no purchase in its window can still
    # arrive); an unmatched PURCHASE emits once the watermark passes p_ts
    # itself (its click window is [p_ts - 1h, p_ts], and any late click has
    # event time > watermark).  Zero exact-boundary rows at every SF.
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS cms
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS pms
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(cms) FROM c), (SELECT MAX(pms) FROM p))
                    - 7200000 AS w)
    SELECT c.click_id, c.user_id AS click_user, p.purchase_id,
           p.user_id AS purchase_user, p.pms - c.cms AS gap_ms
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.pms >= c.cms AND p.pms <= c.cms + 3600000
    UNION ALL
    SELECT c.click_id, c.user_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM c, wm
    WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                        AND p.pms >= c.cms AND p.pms <= c.cms + 3600000)
      AND c.cms + 3600000 < wm.w
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), p.purchase_id,
           p.user_id, CAST(NULL AS BIGINT)
    FROM p, wm
    WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                        AND p.pms >= c.cms AND p.pms <= c.cms + 3600000)
      AND p.pms < wm.w
    """,
    tags=("streaming", "join", "stream-stream", "full-outer", "watermark"),
)
def s14_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — the complete eviction semantics:
    matched pairs emit immediately; each side's unmatched rows emit their
    null twin only when the global watermark proves no partner can still
    arrive (left: window end passed; right: its own event time passed,
    since its click window only extends backwards).  Hash-checked against
    the batch replay of both cutoffs — the strongest oracle a streaming
    outer join can carry."""
    src = P.events_stream(spark, sf_dir)
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("c_ts"),
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = P.stream_stream_join(
        clicks, purchases, left_key="click_user", right_key="purchase_user",
        left_ts="c_ts", right_ts="p_ts", within="1 hour", watermark="2 hours",
        how="full_outer",
    )
    out = _drain(joined, "s14_ssj_full", "append", shuffle_partitions=8)
    return out.select(
        "click_id",
        "click_user",
        "purchase_id",
        "purchase_user",
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("gap_ms"),
    )


@register(
    "s15_stream_jsonl_ingest",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len
    FROM documents GROUP BY source
    """,
    tags=("streaming", "source", "jsonl"),
)
def s15_stream_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest of raw JSON-lines dumps — the file-drop twin of the
    Kafka path: batch-write documents as JSONL, stream the directory back
    through the file source with an EXPLICIT schema and PERMISSIVE
    corrupt-line quarantine (sources/jsonl.py's policy surface), filter to
    clean rows, aggregate per source in complete mode.  The drained result
    must equal the batch aggregate computed from parquet — sum_text_len pins
    string fidelity through JSON encode -> micro-batch decode.  The
    streaming shape is the production one for landed-file corpora: new
    dumps appear in the directory, maxFilesPerTrigger paces them, the
    aggregate rolls forward."""

    from hiveka_spark.catalog import table
    from hiveka_spark.sources.jsonl import CORRUPT_COL

    out = scratch_dir(prefix="gate_sjsonl_")
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    d.write.mode("overwrite").json(out)
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, "
            f"n_chars bigint, {CORRUPT_COL} string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(out)
    )
    clean = stream.filter(F.col(CORRUPT_COL).isNull())
    agg = clean.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
    )
    return _drain(agg, "s15_jsonl", "complete", shuffle_partitions=8)


@register(
    "s16_foreachbatch_upsert",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(epoch_ms(ts)) AS BIGINT) AS last_ms,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "sink", "upsert", "foreachBatch"),
)
def s16_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed-UPSERT sink — the pattern for maintaining a
    serving table from a stream when the sink has no native merge: each
    micro-batch is aggregated per key and merged (sum counts, max
    last-seen, sum integer cents) into a VERSIONED state snapshot
    (state/v{batch_id}), so a replayed batch id overwrites its own version
    instead of double-counting.  The previous-version pointer is NOT trusted
    across restarts: at every batch the sink re-derives it from the newest
    on-disk v{id} directory with id < batch_id (committed = has _SUCCESS),
    so after a driver crash + checkpoint replay the replayed batch merges
    from its true predecessor instead of silently restarting from empty —
    version key + disk-derived predecessor together give the MERGE-style
    idempotence a Delta/Iceberg sink provides natively.

    The fixture is re-written as 4 parquet files and drained one file per
    micro-batch (``drain_files``), so the merge logic is exercised across 4
    real micro-batches (a single-batch drain would never merge at all).
    The drained final snapshot must equal the batch aggregate of the whole
    table — streaming-upsert convergence, hash-checked."""

    from hiveka_spark.catalog import table

    src_dir = scratch_dir(prefix="gate_s16src_")
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)

    def batch_reduce(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(F.unix_millis("ts")).cast("bigint").alias("last_ms"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        return (
            prev.unionByName(b)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.max("last_ms").cast("bigint").alias("last_ms"),
                F.sum("value_cents").cast("bigint").alias("value_cents"),
            )
        )

    return _upsert_snapshot(spark, src_dir, "s16", batch_reduce, merge)


@register(
    "s17_stream_kafka_decode",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 5 = 0 GROUP BY event_type
    """,
    tags=("streaming", "kafka", "avro", "decode"),
)
def s17_stream_kafka_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Kafka-decode parity — the reference's scan loop as a real
    micro-batch stream: produce Avro-framed wire records into the broker
    simulator (write_kafka: encode + keyed partition routing + per-partition
    offsets), consume the topic log with SimBroker.stream (the simulator's
    readStream.format('kafka')), run the SAME decode_wire the batch path
    uses (the Arrow-batched Avro codec runs per micro-batch), aggregate in
    complete mode, drain with availableNow.  The drained result must equal
    the batch aggregate over the produced subset — the streaming and batch
    decode paths are one code path, certified by one oracle (A13–A18 + A23
    as a live stream instead of repeated batch pulls, the upgrade over the
    reference's KafkaInputFormat.java:471-501 resume loop)."""

    from hiveka_spark.catalog import table
    from hiveka_spark.sources.kafka_io import KafkaTableConfig, decode_wire, write_kafka
    from hiveka_spark.sources.kafka_sim import SimBroker

    cfg = KafkaTableConfig(
        bootstrap_servers="sim://gate",
        whitelist_topics=["events_live"],
        ddl="event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
    )
    broker = SimBroker(scratch_dir(prefix="gate_simstream_"))
    broker.create_topic("events_live", partitions=4)
    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", "event_type", "value")
    )
    write_kafka(rows, cfg, "events_live", key_col="user_id", broker=broker)
    wire_stream = broker.stream(spark, "events_live")
    typed = decode_wire(wire_stream, cfg)
    agg = typed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
    return _drain(agg, "s17_kafka_decode", "complete", shuffle_partitions=8)


@register(
    "s18_stream_confluent_decode",
    oracle="""
    SELECT lang, schema_path,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT lang, 'v1->v2' AS schema_path, n_chars
          FROM documents WHERE doc_id % 3 = 0)
    GROUP BY lang, schema_path
    """,
    tags=("streaming", "kafka", "confluent", "registry"),
)
def s18_stream_confluent_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent-framed registry decode as a LIVE STREAM: documents are
    encoded under registry schema v1 (0x00 magic + big-endian schema id),
    produced into the broker simulator, the topic then EVOLVES to v2 (new
    field with an Avro default), and each micro-batch resolves every
    record's writer schema from its header id and surfaces rows under the
    v2 reader schema — streaming schema evolution, the exact situation a
    long-running consumer hits when producers upgrade mid-stream.  Composes
    s17 (streaming wire decode) with x43 (Confluent framing + resolution);
    the oracle aggregates the source subset with the v2 default constant,
    so framing, per-record id resolution, and Avro schema resolution are
    hash-checked through the micro-batch path."""
    import json as _json
    from dataclasses import replace

    from hiveka_spark.catalog import table
    from hiveka_spark.sources.kafka_io import (
        KafkaTableConfig,
        decode_wire,
        with_confluent_framing,
        write_kafka,
    )
    from hiveka_spark.sources.kafka_sim import SimBroker
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", "n_chars"
    )
    registry = FileSchemaRegistry(scratch_dir(prefix="gate_s18_reg_"))
    cfg_v1 = KafkaTableConfig(
        "sim://gate",
        whitelist_topics=["docs_live_confluent"],
        ddl="doc_id BIGINT, lang STRING, n_chars BIGINT",
    )
    cfg_v1 = with_confluent_framing(cfg_v1, registry, "docs_live_confluent")
    broker = SimBroker(scratch_dir(prefix="gate_s18_broker_"))
    broker.create_topic("docs_live_confluent", partitions=2)
    write_kafka(d, cfg_v1, "docs_live_confluent", key_col="doc_id", broker=broker)

    v1 = _json.loads(cfg_v1.schema_json())
    v2 = {
        **v1,
        "fields": v1["fields"]
        + [{"name": "schema_path", "type": "string", "default": "v1->v2"}],
    }
    registry.register("docs_live_confluent", v2)
    cfg_v2 = replace(cfg_v1, ddl=None, avro_schema=v2)

    wire_stream = broker.stream(spark, "docs_live_confluent")
    decoded = decode_wire(
        wire_stream, cfg_v2, registry=registry, registry_topic="docs_live_confluent"
    )
    agg = decoded.groupBy("lang", "schema_path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return _drain(agg, "s18_confluent", "complete", shuffle_partitions=8)


@register(
    "s19_stream_minhash_dedup",
    oracle=None,  # set just below — reuses x03's full MinHash replay
    tags=("streaming", "dedup", "minhash", "lsh", "band-index"),
)
def s19_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup dedup — the streaming twin of x03 and the shape a
    live ingest pipeline actually needs: documents arrive in micro-batches;
    each batch computes MinHash band rows + shingle sets, probes the
    PERSISTED BAND INDEX of all earlier batches for cross-batch candidates,
    self-joins for within-batch candidates, Jaccard-verifies both against
    the accumulated shingle store, and appends its bands/shingles to the
    index.  The fixture is streamed as 4 real micro-batches
    (``drain_files``), so the index is genuinely built and probed
    incrementally.

    Convergence contract: a near-dup pair (a, b) is discovered exactly once
    — when the later of the two docs arrives (same-batch pairs by the batch
    self-join, cross-batch pairs by the index probe) — so the union of all
    per-batch emissions must equal x03's one-shot batch result over the
    whole corpus.  That IS the oracle: the entry is hash-checked against
    the same DuckDB MinHash replay as x03.

    State layout follows the s16 discipline: per-batch versioned
    subdirectories (bands/b{id}, sh/b{id}, pairs/b{id}) published through
    hiveka_spark/commit.py, prior state re-derived from committed
    (_SUCCESS) dirs with id < batch_id — a checkpoint-replayed batch
    replaces its own outputs and re-probes its true predecessors, never
    double-emits.

    Scale shape: per batch, one signature aggregate over the BATCH only
    (the index is never recomputed), one (band, bh)-keyed equi-join against
    the index — at 100 TB you'd bucket the index files by bh so the probe
    prunes to matching buckets, and compact per-batch dirs periodically;
    the shingle store is the Jaccard-verify cost and would be replaced by
    signature-only verification (estimated Jaccard) if exactness were
    relaxed.  No all-pairs edge anywhere."""
    import os

    from hiveka_spark.catalog import table
    from hiveka_spark.streaming.neardup import committed_versions, stream_minhash_dedup

    state_root = scratch_dir(prefix="gate_s19state_")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = stream_minhash_dedup(
        spark, docs, n_batches=4,
        num_perm=32, bands=8, k=3, threshold=0.8, state_root=state_root,
    )
    emitted = committed_versions(os.path.join(state_root, "pairs"), 10**9)
    assert len(emitted) >= 3, f"expected >=3 micro-batches, got {len(emitted)}"
    return pairs


# The streaming run must converge to x03's one-shot batch answer — reuse
# its exact DuckDB MinHash replay as the oracle.
def _set_s19_oracle() -> None:
    from dataclasses import replace

    from hiveka_spark.queries import REGISTRY
    from hiveka_spark.queries.extensions import _minhash_oracle

    spec = REGISTRY["s19_stream_minhash_dedup"]
    REGISTRY["s19_stream_minhash_dedup"] = replace(spec, oracle=_minhash_oracle())


_set_s19_oracle()


@register(
    "s20_stream_bloom_decontam",
    oracle=None,  # set below — reuses x62's Bloom replay
    tags=("streaming", "decontamination", "bloom", "ingest-filter"),
)
def s20_stream_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME decontamination — the streaming twin of x62 and the
    filter a live pipeline runs as documents land: the eval suite's Bloom
    bitset is built ONCE (32 KiB literal, pure plan data) and every
    micro-batch of arriving training docs is probed against it map-only.
    The probe is per-doc-local (a doc's shingles live in its own row), so
    there is NO streaming state at all — the cheapest possible streaming
    operator shape — and the union of per-batch outputs must equal x62's
    one-shot batch answer, which is exactly what the shared oracle checks.

    4 real micro-batches (``drain_files``); each batch's result is
    published as ``b{batch_id}`` through :mod:`hiveka_spark.commit`, so a
    replayed batch replaces its own version whole."""
    import os

    from hiveka_spark import commit
    from hiveka_spark.catalog import table
    from hiveka_spark.operators import dedup as D
    from hiveka_spark.queries.extensions import _BLOOM_H, _BLOOM_M, _EVAL_SOURCES
    from hiveka_spark.streaming.neardup import committed_versions

    d = table(spark, sf_dir, "documents")
    ev = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    tr = d.filter(~F.col("source").isin(*_EVAL_SOURCES)).select("doc_id", "text")

    ev_sh = D.eval_shingle_set(ev, "text", k=3).localCheckpoint(eager=True)
    bitset = D.build_bloom_bitset(ev_sh, _BLOOM_M, _BLOOM_H)

    src_dir = scratch_dir(prefix="gate_s20src_")
    out_root = scratch_dir(prefix="gate_s20out_")
    tr.repartition(4).write.mode("overwrite").parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit.write_version(
            os.path.join(out_root, f"b{batch_id}"),
            D.bloom_probe(
                batch_df, bitset, ev_sh, "doc_id", "text",
                k=3, m_bits=_BLOOM_M, n_hashes=_BLOOM_H,
            ).write.mode("overwrite").parquet,
        )

    P.drain_files(spark, src_dir, sink, scratch_dir(prefix="ckpt_s20_"))
    emitted = committed_versions(out_root, 10**9)
    assert len(emitted) >= 3, f"expected >=3 micro-batches, got {len(emitted)}"
    return spark.read.parquet(*emitted)


def _set_s20_oracle() -> None:
    from dataclasses import replace

    from hiveka_spark.queries import REGISTRY
    from hiveka_spark.queries.extensions import _bloom_oracle

    spec = REGISTRY["s20_stream_bloom_decontam"]
    REGISTRY["s20_stream_bloom_decontam"] = replace(spec, oracle=_bloom_oracle())


_set_s20_oracle()


@register(
    "s21_stream_corpus_stats",
    oracle="""
    WITH t AS (SELECT source, n_chars,
                      LEN(list_filter(string_split(LOWER(text), ' '), x -> x <> ''))
                        AS n_tok
               FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM t GROUP BY source
    """,
    tags=("streaming", "upsert", "corpus-stats", "serving-table"),
)
def s21_stream_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live corpus-stats SERVING TABLE — the dataset-card numbers (x50's
    mergeable subset) maintained from a document stream through the
    restart-safe VersionedUpsertSink rather than an in-memory complete-mode
    aggregate (s15's mechanism): each micro-batch reduces to per-source
    (n_docs, sum_chars, sum_tokens) and merges into the versioned snapshot
    by summation.  This is the pattern for stats a dashboard reads DURING
    ingest — the snapshot is a queryable parquet table at every batch
    boundary, survives driver restarts (disk-derived predecessor,
    tests/test_upsert.py), and never holds stream-length state in memory.
    Only MERGEABLE stats qualify (counts/sums; x50's exact distinct counts
    and discrete median need the full corpus — at 100 TB those become
    sketches).  4 real micro-batches (``drain_files``); drained snapshot
    must equal the batch aggregate."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.text import tokens

    src_dir = scratch_dir(prefix="gate_s21src_")
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source", "n_chars")
    d.repartition(4).write.mode("overwrite").parquet(src_dir)

    def batch_reduce(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                "source", "n_chars", F.size(tokens("text")).cast("bigint").alias("n_tok")
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.sum("n_tok").cast("bigint").alias("sum_tokens"),
            )
        )

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        return (
            prev.unionByName(b)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("sum_chars").cast("bigint").alias("sum_chars"),
                F.sum("sum_tokens").cast("bigint").alias("sum_tokens"),
            )
        )

    return _upsert_snapshot(spark, src_dir, "s21", batch_reduce, merge)


@register(
    "s22_stream_kafka_sink",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 3 = 1
    """,
    tags=("streaming", "kafka", "sink", "produce", "foreachBatch"),
)
def s22_stream_kafka_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Kafka PRODUCE sink — the streaming half of A25, the path
    the reference stubs out entirely (KafkaOutputFormat.java:28-39 returns a
    null RecordWriter): a curated document stream drains back INTO a topic
    via foreachBatch + the batch producer, with batch-id commit markers so
    a checkpoint-replayed micro-batch never appends twice (see
    streaming/kafka_sink.py for the exactly-once contract).  4 real
    micro-batches (``drain_files``) produce Avro-framed records into the
    SimBroker topic; after the drain, a REPLAY of the last committed batch
    id is simulated and asserted to leave every partition's end offset
    unchanged; the topic is then batch-read + decode_wire'd back — one
    oracle certifies the whole encode -> produce -> log -> scan -> decode
    loop per document."""
    from hiveka_spark.catalog import table
    from hiveka_spark.sources.kafka_io import (
        KafkaTableConfig,
        decode_wire,
        read_kafka_batch,
    )
    from hiveka_spark.sources.kafka_sim import SimBroker
    from hiveka_spark.streaming.kafka_sink import KafkaStreamSink

    cfg = KafkaTableConfig(
        bootstrap_servers="sim://gate",
        whitelist_topics=["curated_out"],
        ddl="doc_id BIGINT, lang STRING, n_chars BIGINT",
    )
    broker = SimBroker(scratch_dir(prefix="gate_s22broker_"))
    broker.create_topic("curated_out", partitions=4)
    src_dir = scratch_dir(prefix="gate_s22src_")

    curated = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
    )
    curated.repartition(4).write.mode("overwrite").parquet(src_dir)

    sink = KafkaStreamSink(
        cfg, "curated_out", scratch_dir(prefix="gate_s22commits_"),
        broker=broker, key_col="doc_id",
    )
    P.drain_files(spark, src_dir, sink, scratch_dir(prefix="ckpt_s22_"))
    committed = sink.committed_batches()
    assert len(committed) >= 3, f"expected >=3 produced micro-batches, got {committed}"

    # Simulated checkpoint replay of an already-committed batch: the marker
    # must drop it before it reaches the log (idempotence under replay).
    before = dict(broker.latest()["curated_out"])
    sink(spark.read.parquet(src_dir), committed[-1])
    after = dict(broker.latest()["curated_out"])
    assert before == after, f"replayed batch appended to the log: {before} -> {after}"

    wire = read_kafka_batch(spark, cfg, broker=broker)
    return decode_wire(wire, cfg).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# s23 — the LIVE pipeline: ingest topic -> curate -> compacted curated topic
# ---------------------------------------------------------------------------


def _live_curation(
    spark: SparkSession,
    d: DataFrame,
    tag: str,
    payload_cols: tuple[str, ...] = ("lang", "n_chars"),
):
    """The live curation pipeline of s23–s26 over the source corpus ``d``:
    the eval Bloom bitset, a SimBroker with a raw and a log-compacted
    curated topic, and state, commit and checkpoint roots, all isolated
    per ``tag``.  ``payload_cols`` is what the curated topic carries
    beside ``doc_id``: s23's default holds no text (the shape the
    benchmark uses too); s24–s26 carry the text for tokenization.

    Returns ``(raw, run, read)``:

    - ``raw``: the training docs of ``d`` (the eval sources removed);
    - ``run(docs)`` produces ``docs`` onto the raw topic, drains whatever
      the raw topic holds through a fresh
      :class:`~hiveka_spark.streaming.curation.StreamCurationSink` on the
      same roots (the kill-and-resume posture: only the on-disk state
      carries over), and returns the curated topic's end offsets from
      before the drain, where what it produced starts;
    - ``read(**kw)`` is ``read_compacted`` of the curated topic."""
    from hiveka_spark.operators import dedup as D
    from hiveka_spark.queries.extensions import _BLOOM_H, _BLOOM_M, _EVAL_SOURCES
    from hiveka_spark.sources.kafka_io import (
        KafkaTableConfig,
        decode_wire,
        write_kafka,
    )
    from hiveka_spark.sources.kafka_sim import SimBroker
    from hiveka_spark.streaming.curation import (
        StreamCurationSink,
        curated_topic_config,
        read_compacted,
    )
    from hiveka_spark.streaming.kafka_sink import KafkaStreamSink

    is_eval = F.col("source").isin(*_EVAL_SOURCES)
    ev_sh = D.eval_shingle_set(d.filter(is_eval), "text", k=3).localCheckpoint(
        eager=True
    )
    bitset = D.build_bloom_bitset(ev_sh, _BLOOM_M, _BLOOM_H)
    raw = d.filter(~is_eval).select(
        "doc_id", "text", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )

    raw_topic, cur_topic = f"docs_raw{tag}", f"docs_curated{tag}"
    broker = SimBroker(scratch_dir(prefix=f"gate_s{tag}broker_"))
    cfg_in = KafkaTableConfig(
        bootstrap_servers="sim://gate",
        whitelist_topics=[raw_topic],
        ddl="doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
    )
    broker.create_topic(raw_topic, partitions=4)
    cfg_out = curated_topic_config(
        "sim://gate", cur_topic, with_text="text" in payload_cols
    )
    broker.create_topic(cur_topic, partitions=4)
    roots = {
        k: scratch_dir(prefix=f"gate_s{tag}{k}_")
        for k in ("state", "commits", "ckpt")
    }

    def run(docs: DataFrame) -> dict[int, int]:
        start = {int(p): int(o) for p, o in broker.latest()[cur_topic].items()}
        write_kafka(docs, cfg_in, raw_topic, key_col="doc_id", broker=broker)
        sink = StreamCurationSink(
            roots["state"],
            KafkaStreamSink(
                cfg_out, cur_topic, roots["commits"], broker=broker,
                key_col="doc_id", tombstone_col="_tombstone",
            ),
            bitset, ev_sh,
            num_perm=32, bands=8, k=3, threshold=0.8,
            bloom_m=_BLOOM_M, bloom_h=_BLOOM_H,
            payload_cols=payload_cols,
        )
        typed = decode_wire(
            broker.stream(spark, raw_topic, max_files_per_trigger=1), cfg_in
        ).select("doc_id", "text", "lang", "n_chars")
        P.drain(typed, sink, roots["ckpt"])
        committed = sink.produce_sink.committed_batches()
        assert len(committed) >= 3, f"expected >=3 curated micro-batches, got {committed}"
        return start

    def read(**kw) -> DataFrame:
        kw.setdefault("payload_cols", payload_cols)
        return read_compacted(spark, cfg_out, broker=broker, **kw)

    return raw, run, read


def _s23_oracle(contain_pct: int = 50) -> str:
    from hiveka_spark.operators import dedup as D
    from hiveka_spark.operators.text import EN_STOPWORDS
    from hiveka_spark.queries.extensions import _EVAL_SOURCES

    k = 3
    stop_sql = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    evals = ", ".join(f"'{s}'" for s in _EVAL_SOURCES)
    machinery = D.minhash_machinery_sql(32, 8, k, tok_cte="tok")
    jac = D.jaccard_pairs_sql("cand", "pairs", 0.8)
    return f"""
    WITH tok AS (SELECT doc_id,
                        list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
                 FROM documents WHERE source NOT IN ({evals})),
    evtok AS (SELECT doc_id,
                     list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
              FROM documents WHERE source IN ({evals})),
    evsh AS (SELECT DISTINCT array_to_string(ws[i:i+{k - 1}], ' ') AS s
             FROM (SELECT ws, UNNEST(generate_series(1, GREATEST(LEN(ws) - {k - 1}, 1))) AS i
                   FROM evtok)),
    {machinery},
    gf AS (SELECT doc_id,
                  CAST(LEN(ws) AS BIGINT) AS n_words,
                  CAST(FLOOR(list_sum(list_transform(ws, w -> LENGTH(w))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS mean_word_len,
                  CAST(FLOOR(LEN(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS alpha_frac,
                  CAST(LEN(list_intersect(list_distinct(ws), {stop_sql})) AS BIGINT)
                    AS n_stop_distinct
           FROM tok),
    gq AS (SELECT doc_id FROM gf
           WHERE n_words BETWEEN 15 AND 5000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND alpha_frac >= 0.7 AND n_stop_distinct >= 2),
    hits AS (SELECT m.doc_id,
                    COUNT(*) AS n_sh,
                    SUM(CASE WHEN m.s IN (SELECT s FROM evsh) THEN 1 ELSE 0 END) AS n_hit
             FROM sh m JOIN gq USING (doc_id)
             GROUP BY m.doc_id),
    bflag AS (SELECT doc_id FROM hits WHERE n_hit * 100 >= {contain_pct} * n_sh),
    part AS (SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
             FROM documents d JOIN gq USING (doc_id)
             WHERE d.doc_id NOT IN (SELECT doc_id FROM bflag)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.bh = b.bh
                         AND a.doc_id < b.doc_id
             JOIN part pa ON pa.doc_id = a.doc_id
             JOIN part pb ON pb.doc_id = b.doc_id),
    {jac}
    SELECT p.doc_id, p.lang, p.n_chars
    FROM part p WHERE p.doc_id NOT IN (SELECT id_b FROM pairs)
    """


@register(
    "s23_stream_curation_e2e",
    oracle=_s23_oracle(),
    tags=("streaming", "pipeline", "kafka", "dedup", "decontamination", "compaction"),
)
def s23_stream_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE end-to-end curation pipeline — topic in, curated topic out,
    the composed flow the reference's README sketches (README.md:7-16:
    Kafka scan -> query -> output) upgraded to a full curation chain, and
    the streaming twin of x60's batch composition (round-7 verdict item 5):

        Avro ingest topic -> per-micro-batch decode (s17's wire path)
        -> Gopher rules (x45, stateless) -> eval-shingle CONTAINMENT
        decontam (x68's rule at doc granularity via x62's bloom_probe:
        bitset upper bound + broadcast exact-hit count in one pass; flag
        iff >= 50% of a doc's distinct shingles are eval shingles;
        stateless) -> MinHash band-index near-dup dedup
        (s19's persisted-index discipline, the stateful stage)
        -> marker-protected Avro PRODUCE (s22) onto a LOG-COMPACTED
        curated topic as upsert records + REAL tombstones (key set,
        value NULL — the record shape broker compaction deletes on).

    Convergence contract (the oracle): near-dup survivorship is "smallest
    doc_id of a dup group wins" — but a doc's smaller partner can ARRIVE
    LATER, after the doc was already produced.  The sink emits immediately
    and RETRACTS by producing a null-value tombstone for the same key when
    a later batch discovers an indexed doc lost to a newly arrived smaller
    id — so under last-record-per-key compaction the topic converges to
    EXACTLY the batch answer for any arrival order (streaming/curation.py
    for the full argument).  The returned frame is the compacted read-back
    (read_compacted: per-key max-offset record, tombstones delete), and
    the DuckDB oracle replays all three stages batch-wise from the source
    table: gopher pass AND not containment-flagged AND not the larger side of
    any verified (jaccard >= 0.8) pair among participants.  One hash
    certifies decode, every filter decision, cross-batch index probes,
    retraction, produce framing, and compaction.

    Kill-and-resume across the whole chain is pinned in
    tests/test_streaming_curation.py (fresh sink objects + continued
    checkpoint; marker replay leaves the log byte-identical; the
    produce->marker crash window compacts away; arrival-order
    convergence)."""
    from hiveka_spark.catalog import table

    raw, run, read = _live_curation(spark, table(spark, sf_dir, "documents"), "23")
    run(raw)
    return read()


# ---------------------------------------------------------------------------
# s24 — token-certified manifest of the LIVE curated topic
# ---------------------------------------------------------------------------


def _s23_curation_ctes(contain_pct: int = 50) -> str:
    """The batch-equivalent CTE text of the s23 streaming curation chain
    (Gopher -> containment decontamination -> near-dup dedup), ending at
    the ``curated`` doc-id set — shared by the s24 token-manifest oracle
    and the s25 live-packing oracle so the convergence contract exists in
    exactly one SQL text."""
    from hiveka_spark.operators import dedup as D
    from hiveka_spark.operators.text import EN_STOPWORDS
    from hiveka_spark.queries.extensions import _EVAL_SOURCES

    k = 3
    stop_sql = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    evals = ", ".join(f"'{s}'" for s in _EVAL_SOURCES)
    machinery = D.minhash_machinery_sql(32, 8, k, tok_cte="tok")
    jac = D.jaccard_pairs_sql("cand", "pairs", 0.8)
    return f"""tok AS (SELECT doc_id,
                   list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
            FROM documents WHERE source NOT IN ({evals})),
    evtok AS (SELECT doc_id,
                     list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
              FROM documents WHERE source IN ({evals})),
    evsh AS (SELECT DISTINCT array_to_string(ws[i:i+{k - 1}], ' ') AS s
             FROM (SELECT ws, UNNEST(generate_series(1, GREATEST(LEN(ws) - {k - 1}, 1))) AS i
                   FROM evtok)),
    {machinery},
    gf AS (SELECT doc_id,
                  CAST(LEN(ws) AS BIGINT) AS n_words,
                  CAST(FLOOR(list_sum(list_transform(ws, w -> LENGTH(w))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS mean_word_len,
                  CAST(FLOOR(LEN(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS alpha_frac,
                  CAST(LEN(list_intersect(list_distinct(ws), {stop_sql})) AS BIGINT)
                    AS n_stop_distinct
           FROM tok),
    gq AS (SELECT doc_id FROM gf
           WHERE n_words BETWEEN 15 AND 5000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND alpha_frac >= 0.7 AND n_stop_distinct >= 2),
    hits AS (SELECT m.doc_id,
                    COUNT(*) AS n_sh,
                    SUM(CASE WHEN m.s IN (SELECT s FROM evsh) THEN 1 ELSE 0 END) AS n_hit
             FROM sh m JOIN gq USING (doc_id)
             GROUP BY m.doc_id),
    bflag AS (SELECT doc_id FROM hits WHERE n_hit * 100 >= {contain_pct} * n_sh),
    part AS (SELECT d.doc_id
             FROM documents d JOIN gq USING (doc_id)
             WHERE d.doc_id NOT IN (SELECT doc_id FROM bflag)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.bh = b.bh
                         AND a.doc_id < b.doc_id
             JOIN part pa ON pa.doc_id = a.doc_id
             JOIN part pb ON pb.doc_id = b.doc_id),
    {jac},
    curated AS (SELECT p.doc_id FROM part p
                WHERE p.doc_id NOT IN (SELECT id_b FROM pairs))"""


def _s24_oracle(
    contain_pct: int = 50, n_shards: int = 8, salt: str = "tokc_"
) -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql
    from hiveka_spark.queries.curation_ext import (
        _BPE_VOCAB_CTES,
        _X76_MAX_WORDS,
        _X76_MERGES,
        _bpe_apply_ctes,
    )

    hh = portable_hash60_sql(f"concat('{salt}', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(_X76_MERGES, _X76_MAX_WORDS)},
    {_BPE_VOCAB_CTES},
    {_s23_curation_ctes(contain_pct)},
    shards AS (
      SELECT doc_id, CAST(hh % {n_shards} AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % {n_shards} ORDER BY hh, doc_id)
               AS shard_pos
      FROM (SELECT doc_id, {hh} AS hh FROM curated)),
    toks AS (
      SELECT s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                           list(id ORDER BY shard_pos, upos, pos)),
                              (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
               AS ids_digest
      FROM toks GROUP BY shard),
    dcount AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM shards GROUP BY shard)
    SELECT d.shard, d.n_docs,
           CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(t.ids_digest, 0) AS BIGINT) AS ids_digest
    FROM dcount d LEFT JOIN tokagg t ON t.shard = d.shard
    """


@register(
    "s24_curated_token_manifest",
    oracle=_s24_oracle(),
    tags=("streaming", "pipeline", "kafka", "tokenizer", "manifest",
          "certification"),
)
def s24_curated_token_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level certification of the LIVE curated corpus (round-10
    verdict #5b) — x81's token-certified manifest applied to s23's
    streaming output instead of a batch export: the full curation
    pipeline runs (Avro ingest topic -> Gopher -> containment decontam ->
    band-index near-dup dedup -> compacted curated topic, with the
    payload carrying TEXT so the topic is self-contained), the compacted
    topic is read back under log-compaction semantics, the read-back text
    is tokenized with the x76 tokenizer (trained on the full source
    corpus, one corpus pass), sharded by the x71 zero-coordination
    recipe, and manifested per shard as (n_docs, n_tokens, ids_digest)
    where ids_digest covers the shard's ENTIRE concatenated token stream.
    One hash therefore certifies every curation decision, the produce
    framing, compaction convergence, the decode, AND every token id a
    training job would read off the live topic.

    The DuckDB oracle replays the whole composition from the source
    table: the s23 batch-equivalent curated set, the x76 training
    recursion, the rank-joined apply recursion, and a flat ordered fold
    per shard — it never sees the broker, the wire format, or the Spark
    tokenizer.

    Scale shape: the curation stages are s23's (per-batch zero-shuffle
    rules + bucket-pruned index probes); tokenize-and-manifest is x81's
    (merge table + vocab broadcast once, flat mapInPandas, shard/shard_pos
    pass-through, per-doc digests folded JVM-side, affine composition —
    the token stream is never exploded)."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import (
        _DIGEST_MOD,
        composed_order_digest,
        epoch_shards,
    )
    from hiveka_spark.queries.curation_ext import _trained_merge_vocab

    d = table(spark, sf_dir, "documents")
    raw, run, read = _live_curation(spark, d, "24", ("text", "lang", "n_chars"))
    run(raw)
    cur = read()

    # tokenizer trained on the full SOURCE corpus (the x76/x81 posture —
    # one corpus pass; the curated set is a subset, so its units are in
    # the trained alphabet by construction)
    merges, vocab = _trained_merge_vocab(d)

    staged = epoch_shards(cur, "doc_id", "tokc_", 8, keep_cols=("text",))
    toks = bpe_encode_ids(
        staged, merges, vocab, "text", "doc_id",
        units=True, keep_cols=("shard", "shard_pos"),
    )
    p = F.lit(_DIGEST_MOD).cast("bigint")
    per_doc = toks.select(
        "shard",
        "shard_pos",
        F.aggregate(
            "ids",
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 31 + x) % p,
        ).alias("dd"),
        F.size("ids").cast("bigint").alias("n_tok"),
    ).localCheckpoint(eager=True)  # consumed by counts AND digests
    counts = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    digests = composed_order_digest(
        per_doc, "shard", "shard_pos", "dd", "n_tok",
        out_col="ids_digest", seg_size=64,
    )
    return counts.join(digests, "shard").select(
        "shard", "n_docs", "n_tokens",
        F.col("ids_digest").cast("bigint").alias("ids_digest"),
    )


# ---------------------------------------------------------------------------
# s25 — PACKED training examples off the LIVE curated topic: s24's pipeline
# composed with x87's packer — the last composition cell (live × packed)
# ---------------------------------------------------------------------------


def _s25_oracle(contain_pct: int = 50) -> str:
    """s23's batch-equivalent curation text (shared ``_s23_curation_ctes``)
    + the shared packing replay (``curation_ext._packing_oracle``) with
    shards built over the CURATED survivor set — so a hash match proves
    the examples packed off the live topic equal, token for token and
    boundary for boundary, the batch x87 packing of the same surviving
    docs (the convergence contract, in one SQL text)."""
    from hiveka_spark.queries.curation_ext import (
        _X87_CONTEXT,
        _X87_SHARDS,
        _packing_oracle,
    )

    return _packing_oracle(
        None, salt="pack25_", n_shards=_X87_SHARDS, C=_X87_CONTEXT,
        src="curated", extra_ctes=_s23_curation_ctes(contain_pct),
    )


def s25_packed(cur: DataFrame, d: DataFrame) -> DataFrame:
    """The LAZY tokenize-and-pack plan over a curated docs frame — exposed
    separately from the gate so tests can pin its shape (ONE tokenize
    mapInPandas per refresh, x87's one-exchange packing) without running
    the broker half.  ``d`` is the full source corpus the tokenizer
    trains on (the x76/x81 posture — the curated set is a subset, so its
    units are in the trained alphabet by construction)."""
    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import epoch_shards, pack_token_examples
    from hiveka_spark.queries.curation_ext import (
        _X87_CONTEXT,
        _X87_SHARDS,
        _trained_merge_vocab,
    )

    merges, vocab = _trained_merge_vocab(d)
    # tokenize FIRST (zero-shuffle mapInPandas), then shard: the ids ride
    # the one shard exchange as payload and the packer's window + groupBy
    # share that partitioning — ONE exchange total (the x89 ordering;
    # sharding before tokenizing costs a second exchange because
    # MapInPandas does not preserve its child's partitioning)
    enc = bpe_encode_ids(cur, merges, vocab, "text", "doc_id", units=True)
    staged = epoch_shards(enc, "doc_id", "pack25_", _X87_SHARDS, keep_cols=("ids",))
    return pack_token_examples(staged, _X87_CONTEXT)


@register(
    "s25_live_packed_examples",
    oracle=_s25_oracle(),
    tags=("streaming", "kafka", "curation", "tokenizer", "packing",
          "training-prep", "certification"),
)
def s25_live_packed_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training examples packed off the LIVE curated topic —
    the last composition cell (round-11 verdict #3: live × packed): the
    full s23 curation pipeline runs (ingest topic -> Gopher -> Bloom
    containment decontamination -> band-index near-dup dedup ->
    compacted curated topic carrying TEXT), the topic is read back under
    log-compaction semantics, the read-back text is tokenized ONCE
    (x79's flat broadcast mapInPandas), sharded (x71 recipe), and packed
    into 128-token examples (x87's never-explode slice composition),
    each manifested as (shard, ex_idx, n_tokens, n_docs, ids_digest,
    starts_digest).  ONE hash therefore certifies the actual training
    examples a job would consume off the live stream: every curation
    decision, the produce framing, compaction convergence, the decode,
    every token id and position, and every attention-mask boundary —
    AND that they equal the batch x87 packing of the same surviving docs
    (the oracle derives the batch curated set and packs it from
    scratch; plan shape pinned in tests/test_plans.py).

    Scale shape: curation is s23's (per-batch zero-shuffle rules +
    bucket-pruned index probes); tokenize is one broadcast mapInPandas;
    packing never explodes the token stream (O(n_docs + n_tokens/C)
    slice rows, digests folded before the one exchange)."""
    from hiveka_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    raw, run, read = _live_curation(spark, d, "25", ("text", "lang", "n_chars"))
    run(raw)
    return s25_packed(read(), d)


# ---------------------------------------------------------------------------
# s26 — INCREMENTAL token manifests off the LIVE curated topic: the last
# matrix cell (live × incremental) — new compacted-topic batches tokenize
# ALONE (x95's posture on s24/s25's input); prior batches' text is never
# re-read (offset-pruned delta consume), deletions compose at manifest level
# ---------------------------------------------------------------------------


def s26_compose(man: DataFrame, alive: DataFrame) -> DataFrame:
    """The LAZY manifest-composition plan — persisted per-batch doc
    manifests reduced to the LATEST batch per key (min(struct) argmax
    carrier on the ``batch`` column: a key re-upserted with different
    payload in a later refresh takes its re-tokenized manifest row, never
    a stale one), LEFT SEMI joined to the topic's live key set (a key
    tombstoned AFTER it was manifested drops out here, at manifest level —
    no text, no tokenizer), then x71 hash shards + the affine digest
    composition.  Exposed separately from the gate so tests can pin the
    no-re-read/no-re-tokenize claims on this exact plan
    (tests/test_plans.py)."""
    from hiveka_spark.operators.sampling import composed_order_digest, epoch_shards

    # semi-join FIRST: aliveness is per key (batch-independent), so
    # filtering before the latest-per-key aggregate is result-identical
    # and keeps tombstoned keys' ever-growing manifest history out of the
    # groupBy shuffle
    live_man = man.join(alive, "doc_id", "leftsemi")
    latest = live_man.groupBy("doc_id").agg(
        F.max(F.struct("batch", "n_tokens", "ids_digest")).alias("m")
    ).select(
        "doc_id",
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.ids_digest").alias("ids_digest"),
    )
    staged = epoch_shards(
        latest, "doc_id", "tokc26_", 8, keep_cols=("n_tokens", "ids_digest")
    )
    counts = staged.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    digests = composed_order_digest(
        staged.withColumnRenamed("ids_digest", "dd"),
        "shard", "shard_pos", "dd", "n_tokens",
        out_col="ids_digest", seg_size=64,
    )
    return counts.join(digests, "shard").select(
        "shard", "n_docs", "n_tokens",
        F.col("ids_digest").cast("bigint").alias("ids_digest"),
    )


@register(
    "s26_live_incremental_tokens",
    oracle=_s24_oracle(salt="tokc26_"),
    tags=("streaming", "kafka", "curation", "tokenizer", "incremental",
          "manifest", "certification", "scale"),
)
def s26_live_incremental_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live × incremental (round-12 verdict #5, the last open matrix
    cell): s24 certifies the live curated topic's tokens by re-tokenizing
    the WHOLE topic at each refresh; x95 certifies incremental token
    export over BATCH corpus versions.  This gate composes the two
    postures — the curated topic refreshes across corpus drops and each
    refresh tokenizes ONLY what the refresh added:

    1. Drop 1 (the x95 version predicate's complement) is ingested and
       curated live (s23's full chain: Avro topic -> Gopher -> Bloom
       containment decontam -> band-index near-dup dedup -> compacted
       curated topic carrying TEXT); the snapshot read-back tokenizes
       under the frozen tokenizer (trained once on the full source corpus
       — the s24 posture; freeze-before-drop semantics with an unk
       contract is x95's own certificate) and persists slim per-doc
       manifests (doc_id, n_tokens, ids_digest).
    2. Drop 2 arrives on the SAME topic; fresh sink objects resume the
       same checkpoint/state/commit roots (the pinned kill-and-resume
       contract), so the band index carries over and tombstones retract
       drop-1 docs that lose to smaller-id drop-2 arrivals.
    3. The refresh consumes the topic's NEW OFFSETS ONLY
       (``read_compacted(start_offsets=...)`` — the A8 offset-resume
       contract as a batch delta read; prior batches' payloads are pruned
       at the scan), tokenizes exactly the delta's upserts, and persists
       the batch-stamped delta manifest (re-upserted keys re-manifest, so
       a payload overwrite can never serve a stale row).
    4. The current shard manifest composes from PERSISTED manifests —
       latest batch per key, LEFT SEMI the live key set — so payload
       overwrites AND tombstones both resolve at manifest level; no
       text column, no tokenizer anywhere in the plan (both
       plan-asserted in tests/test_plans.py on :func:`s26_compose`).

    The oracle is s24's from-scratch replay (batch curated set of the
    FULL corpus + the x76 training recursion + apply recursion + ordered
    shard folds) under this gate's shard salt — a hash match certifies
    that incremental manifest composition across live refreshes equals
    re-deriving everything from scratch: every curation decision of both
    drops, compaction convergence including cross-drop tombstones, the
    delta-consume boundary, and every token id.

    Scale shape: curation is s23's per-batch shape; each refresh's
    tokenize is ONE flat mapInPandas over the DELTA only (at 100 TB +
    1 TB drops this is the difference between affordable and not — the
    x70/x95 posture now holding on the live serving path); the compose
    reads manifest rows only."""
    import shutil

    from hiveka_spark.catalog import table
    from hiveka_spark.queries.curation_ext import (
        _X95_V2_PRED,
        _trained_merge_vocab,
        x95_doc_manifest,
    )

    d = table(spark, sf_dir, "documents")
    raw, run, read = _live_curation(spark, d, "26", ("text", "lang", "n_chars"))
    drop2 = F.expr(_X95_V2_PRED)

    # tokenizer frozen BEFORE any drop (one corpus pass, the s24 posture)
    merges, vocab = _trained_merge_vocab(d)
    store = scratch_dir(prefix="gate_s26store_")

    # ---- refresh 1: drop 1 ingested, curated, snapshot fully tokenized
    run(raw.filter(~drop2))
    x95_doc_manifest(
        read().select("doc_id", "text"), merges, vocab
    ).withColumn("batch", F.lit(1)).write.mode("overwrite").parquet(
        f"{store}/b=1"
    )

    # ---- refresh 2: drop 2 arrives, stream resumes, DELTA-only tokenize.
    # ``hwm`` is the curated topic's per-partition next-unconsumed offset
    # before the drain, the A8 resume watermark, read from the broker's
    # end-offset metadata (the consumer ``endOffsets()`` call) with no
    # Spark job.
    hwm = run(raw.filter(drop2))
    # EVERY delta upsert re-manifests (not just unseen keys): compaction
    # permits a later refresh to overwrite a key's payload, and the compose
    # takes the latest batch per key, so a re-upserted doc can never serve
    # a stale manifest row.  Still delta-sized — the cost is the refresh's
    # upserts, never the corpus.
    delta = read(start_offsets=hwm).select("doc_id", "text")
    x95_doc_manifest(delta, merges, vocab).withColumn(
        "batch", F.lit(2)
    ).write.mode("overwrite").parquet(f"{store}/b=2")

    # ---- compose: persisted manifests × live keys, nothing else
    alive = read(payload_cols=()).select("doc_id")
    man = spark.read.parquet(f"{store}/b=1", f"{store}/b=2").select(
        "doc_id", "batch", "n_tokens", "ids_digest"
    )
    out = s26_compose(man, alive).localCheckpoint(eager=True)
    shutil.rmtree(store, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# s27 — LIVE tokenizer-fertility drift monitor: x104's per-language
# fertility as a restart-safe streaming SERVING TABLE (s21's mechanism)
# ---------------------------------------------------------------------------


def _s27_oracle() -> str:
    """x104's training + application recursion, reduced to the MERGEABLE
    per-language sums the streaming sink maintains (no chars column —
    fertility is the drift metric a tokenizer-health dashboard watches),
    with the final ratio computed from the summed values exactly as the
    gate computes it from the drained snapshot."""
    from hiveka_spark.queries.curation_ext import (
        _X76_MAX_WORDS,
        _X76_MERGES,
        _bpe_apply_ctes,
    )

    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(_X76_MERGES, _X76_MAX_WORDS)},
    unit_tok AS (
      SELECT w AS u, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM ap WHERE it = (SELECT MAX(merge_rank) FROM merges) GROUP BY w),
    pd AS (
      SELECT d.doc_id, MIN(d.lang) AS lang,
             CAST(MIN(LEN(list_filter(string_split(LOWER(d.text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_words,
             CAST(COALESCE(SUM(t.n_tok), 0) AS BIGINT) AS n_tok
      FROM documents d
      LEFT JOIN docunits du ON du.doc_id = d.doc_id
      LEFT JOIN unit_tok t ON t.u = du.u
      GROUP BY d.doc_id)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS sum_words,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_tok) AS BIGINT) * 10000
             // CAST(SUM(n_words) AS BIGINT) AS fertility_q
    FROM pd GROUP BY lang
    """


@register(
    "s27_stream_fertility_drift",
    oracle=_s27_oracle(),
    tags=("streaming", "upsert", "tokenizer", "evaluation", "serving-table"),
)
def s27_stream_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE tokenizer-drift monitor: per-language fertility (x104's
    equity metric) of a FROZEN production tokenizer over the incoming
    document stream, maintained as a restart-safe serving table — the
    dashboard that tells you when the live mix has drifted away from the
    corpus the tokenizer was trained on (a language's fertility climbing
    means its text is being shredded into ever more tokens, the signal
    that a vocabulary extension (x98) is due).  The tokenizer trains
    ONCE, before the stream starts (the frozen-v1 posture of x95/s26);
    each micro-batch tokenizes only its own docs (broadcast merge table,
    flat Arrow mapInPandas, zero shuffle) and reduces to per-language
    (n_docs, sum_words, sum_tokens) — MERGEABLE sums, s21's
    VersionedUpsertSink discipline (disk-derived predecessor, queryable
    parquet snapshot at every batch boundary, restart-safe) — and the
    fertility ratio is computed from the drained sums, never averaged
    across batches.  4 real micro-batches (``drain_files``); the drained
    snapshot must equal x104's batch derivation, which the DuckDB oracle replays
    (training recursion + application + per-language rollup)."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.bpe import bpe_apply_fast, bpe_train_capped_rows
    from hiveka_spark.operators.text import tokens
    from hiveka_spark.queries.curation_ext import _X76_MAX_WORDS, _X76_MERGES

    src_dir = scratch_dir(prefix="gate_s27src_")
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # frozen v1 tokenizer: trained on the batch corpus BEFORE the stream
    merges = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS, units=True
        )
    ]  # bounded: n_merges; rows seam — no DataFrame round trip

    d.repartition(4).write.mode("overwrite").parquet(src_dir)

    def batch_reduce(batch_df: DataFrame) -> DataFrame:
        counts = bpe_apply_fast(batch_df, merges, "text", "doc_id", units=True)
        meta = batch_df.select(
            "doc_id", "lang",
            F.coalesce(F.size(tokens("text")), F.lit(0)).cast("bigint")
            .alias("n_words"),
        )
        return (
            meta.join(counts, "doc_id")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_words").cast("bigint").alias("sum_words"),
                F.sum("n_bpe_tokens").cast("bigint").alias("sum_tokens"),
            )
        )

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        return (
            prev.unionByName(b)
            .groupBy("lang")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("sum_words").cast("bigint").alias("sum_words"),
                F.sum("sum_tokens").cast("bigint").alias("sum_tokens"),
            )
        )

    snap = _upsert_snapshot(spark, src_dir, "s27", batch_reduce, merge)
    return snap.select(
        "lang", "n_docs", "sum_words", "sum_tokens",
        F.expr("CAST(sum_tokens * 10000 DIV sum_words AS BIGINT)")
        .alias("fertility_q"),
    )


# ---------------------------------------------------------------------------
# s28 — LIVE unique-secret report with RETRACTION: x112's df=1 rule over a
# stream, where later arrivals can demote a reported secret
# ---------------------------------------------------------------------------


def _s28_oracle() -> str:
    from hiveka_spark.queries.pipeline_ext import _X112_MIN_LEN

    return f"""
    WITH aug AS (
      SELECT doc_id,
             concat(text,
                    CASE WHEN doc_id % 3 = 0
                         THEN concat(' sk0', md5(CAST(doc_id AS VARCHAR)))
                         ELSE '' END,
                    CASE WHEN doc_id % 5 = 0
                         THEN ' SHARED0000token00001' ELSE '' END) AS text
      FROM documents),
    w AS (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
          FROM aug),
    cand AS (SELECT DISTINCT doc_id, w FROM w
             WHERE LENGTH(w) >= {_X112_MIN_LEN}
               AND regexp_matches(w, '[A-Za-z]')
               AND regexp_matches(w, '[0-9]')
               AND regexp_matches(w, '^[A-Za-z0-9_-]+$')),
    dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM cand GROUP BY w)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_secrets
    FROM cand c JOIN dfreq f USING (w)
    GROUP BY c.doc_id
    """


@register(
    "s28_stream_secret_retraction",
    oracle=_s28_oracle(),
    tags=("streaming", "privacy", "memorization", "upsert", "retraction"),
)
def s28_stream_secret_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE unique-secret monitoring with RETRACTION — the property that
    makes x112's df=1 rule genuinely incremental: a token reported as a
    secret after batch N is DEMOTED when batch N+1 delivers its second
    occurrence, so the report must be derivable from accumulated state,
    never from per-batch emissions (an append-only alert stream could
    never take an alert back).  The state is the DISTINCT candidate-pair
    set (doc_id, token) — candidate-population-sized, a tiny fraction of
    the corpus, never text — maintained by the restart-safe
    VersionedUpsertSink (union-distinct merge, disk-derived predecessor);
    the secret report (per candidate-bearing doc: n_candidates,
    n_secrets) derives from the CURRENT snapshot's frequency table at
    read time, so retraction is automatic and every intermediate
    snapshot is a consistent point-in-time report (the mid-stream
    demotion is pinned in tests/test_streaming.py).  Same planted
    ground truth as x112 (unique keys vs a shared token whose
    occurrences arrive in different micro-batches); the DuckDB oracle
    replays the batch rule over the full corpus."""
    from hiveka_spark.catalog import table
    from hiveka_spark.queries.pipeline_ext import _X112_MIN_LEN

    src_dir = scratch_dir(prefix="gate_s28src_")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" sk0"), F.md5(F.col("doc_id").cast("string"))),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" SHARED0000token00001"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    aug.repartition(4).write.mode("overwrite").parquet(src_dir)

    def batch_reduce(batch_df: DataFrame) -> DataFrame:
        ws = batch_df.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
            ).alias("w"),
        )
        return (
            ws.filter(
                (F.length("w") >= _X112_MIN_LEN)
                & F.col("w").rlike("[A-Za-z]")
                & F.col("w").rlike("[0-9]")
                & F.col("w").rlike("^[A-Za-z0-9_-]+$")
            )
            .distinct()
        )

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        return prev.unionByName(b).distinct()

    return secret_report(
        _upsert_snapshot(spark, src_dir, "s28", batch_reduce, merge)
    )


def secret_report(pairs: DataFrame) -> DataFrame:
    """Point-in-time secret report from a candidate-pair snapshot: the
    df=1 derivation s28 applies to EVERY committed version (retraction =
    the same derivation over a later snapshot)."""
    dfreq = pairs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return (
        pairs.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_secrets"),
        )
    )


# ---------------------------------------------------------------------------
# s29 — LIVE ANN index maintenance: micro-batches of embeddings append IVF
# segments under frozen centroids; serving probes the accumulated index
# (the live x ANN matrix cell: s19 is live dedup, x117 is batch-incremental
# ANN — this is the streaming arm)
# ---------------------------------------------------------------------------


def _s29_oracle(
    k: int = 5, n_cells: int = 16, n_probe: int = 4, stride: int = 31
) -> str:
    from hiveka_spark.queries.extensions import _ann_ivf_oracle

    return _ann_ivf_oracle(k, n_cells, n_probe, stride)


@register(
    "s29_stream_ivf_index",
    oracle=_s29_oracle(),
    tags=("streaming", "similarity", "ann", "ivf", "index-maintenance"),
)
def s29_stream_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE ANN index maintenance — embeddings arrive as a stream and the
    IVF index grows with them: each micro-batch assigns its own vectors
    to the FROZEN centroid frame (offline parameters, x15's
    deterministic stride rule) and appends one segment directory with
    the quantized payload; nothing earlier is re-read or re-assigned,
    and after any batch the accumulated ``v=*`` union is a complete,
    servable index (x117's serving path).  The convergence contract: a
    query served from the drained index must equal one-shot ivf_topk
    over the full corpus — the DuckDB oracle replays exactly that
    (x15's oracle).

    Scale shape: per batch one broadcast-centroid argmax (zero shuffle
    on the batch side) + one segment write; serving is the equi-join on
    cell over read-back segments.  4 real micro-batches
    (``drain_files``); segments are published by batch id through
    :mod:`hiveka_spark.commit`, so a replayed batch replaces its own
    segment whole."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.similarity import ivf_index_topk, ivf_index_update

    src_dir = scratch_dir(prefix="gate_s29src_")
    root = scratch_dir(prefix="gate_s29idx_")
    e = table(spark, sf_dir, "embeddings")
    cents = (
        e.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") / 31 < 16))
        .select(
            F.expr("CAST(vec_id DIV 31 AS BIGINT)").alias("cell"), "embedding"
        )
        .localCheckpoint(eager=True)  # frozen offline parameters (k rows)
    )
    e.repartition(4).write.mode("overwrite").parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_update(spark, batch_df, root, batch_id, cents)

    P.drain_files(spark, src_dir, sink, scratch_dir(prefix="ckpt_s29_"))
    return ivf_index_topk(
        spark, root, e.filter(F.col("vec_id") < 10), cents, k=5, n_probe=4
    ).localCheckpoint(eager=True)  # materialize before scratch cleanup


@register(
    "s30_stream_substring_dedup",
    oracle=None,  # set below — reuses x96's substring-span replay
    tags=("streaming", "dedup", "substring", "incremental", "scale"),
)
def s30_stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING substring dedup — the live arm of the x96/x97/x99 family
    and the last live x incremental matrix cell (round-13 verdict #4):
    documents arrive in micro-batches; each batch window-hashes ITS text
    only, appends a 16-byte-row (hash, count, first-occurrence) segment to
    the persisted window-count store, probes the accumulated store, and
    emits duplicated-window starts — including the RETRO emission of a
    stored first occurrence the moment a later copy makes it a duplicate
    (prior count exactly 1), which is what lets the union of per-batch
    emissions converge to the one-shot batch answer without ever
    re-reading earlier batches' text.  The fixture streams as 4 real
    micro-batches (``drain_files``); per-batch state is published by batch
    id through :mod:`hiveka_spark.commit`, so checkpoint replay is
    idempotent (kill-and-resume pinned in tests/test_streaming_neardup.py).

    Convergence contract: the final per-doc span report (island merge over
    all emitted starts) equals x96's one-shot answer over the whole corpus
    — that IS the oracle (x96's DuckDB replay verbatim, the s19
    discipline).

    Scale shape per batch: one Lx map-only window pass over the batch, one
    map-side-combinable count aggregate, one hash-keyed equi-join probe
    carrying 16-byte rows — never text; the store grows linearly in
    distinct windows and folds with the same c-dir compaction as the band
    index."""
    import os

    from hiveka_spark.catalog import table
    from hiveka_spark.queries.extensions import _X96_L
    from hiveka_spark.streaming.neardup import (
        committed_versions,
        stream_substring_dedup,
    )

    state_root = scratch_dir(prefix="gate_s30state_")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    report = stream_substring_dedup(
        spark, docs, n_batches=4, min_len=_X96_L, state_root=state_root
    )
    emitted = committed_versions(os.path.join(state_root, "starts"), 10**9)
    assert len(emitted) >= 3, f"expected >=3 micro-batches, got {len(emitted)}"
    return report


def _set_s30_oracle() -> None:
    from dataclasses import replace

    from hiveka_spark.queries import REGISTRY
    from hiveka_spark.queries.extensions import _x96_oracle

    spec = REGISTRY["s30_stream_substring_dedup"]
    REGISTRY["s30_stream_substring_dedup"] = replace(spec, oracle=_x96_oracle())


_set_s30_oracle()


# ---------------------------------------------------------------------------
# s31 — LIVE corpus-likelihood drift under a frozen unigram LM: x137 as a
# restart-safe serving table (the live x unigram-family cell)
# ---------------------------------------------------------------------------


@register(
    "s31_stream_likelihood_drift",
    oracle=None,  # set below — x137's batch replay
    tags=("streaming", "upsert", "tokenizer", "unigram", "quality",
          "serving-table"),
)
def s31_stream_likelihood_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE corpus-likelihood drift monitor — x137 as a restart-safe
    serving table (s27's discipline for the unigram family): a FROZEN
    production unigram LM (trained once, before the stream — the
    frozen-v1 posture of x95/s26/s27) scores every arriving document's
    1-best path cost, each micro-batch reduces ITS docs to per-source
    (n_docs, sum_tokens, sum_cost_q) — MERGEABLE sums via the
    VersionedUpsertSink (disk-derived predecessor, queryable snapshot at
    every batch boundary) — and the dashboard ratio (micro-nats per
    token) is computed from the drained sums, never averaged across
    batches.  A source's likelihood climbing means the live mix has
    drifted from the distribution the vocabulary was trained on — the
    signal to retrain or extend (x98's decision input, at stream time).

    4 real micro-batches (``drain_files``); the drained snapshot must
    equal x137's batch derivation over the whole corpus, which the DuckDB oracle replays
    (training chain + apply recursion + per-source rollup)."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.unigram import unigram_score, unigram_train
    from hiveka_spark.queries.tokenizer_ext import (
        _UG_KEEP_MULTI,
        _UG_MAX_PIECE,
        _UG_MAX_WORDS,
        _UG_SEED,
    )

    src_dir = scratch_dir(prefix="gate_s31src_")
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    vocab = unigram_train(
        d, "text",
        max_words=_UG_MAX_WORDS, max_piece_len=_UG_MAX_PIECE,
        n_seed=_UG_SEED, keep_multi=_UG_KEEP_MULTI,
    )
    d.repartition(4).write.mode("overwrite").parquet(src_dir)

    def batch_reduce(batch_df: DataFrame) -> DataFrame:
        scored = unigram_score(
            batch_df, vocab, "text", "doc_id", max_piece_len=_UG_MAX_PIECE
        )
        return (
            batch_df.select("doc_id", "source")
            .join(scored, "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
                F.sum("cost_q_total").cast("bigint").alias("sum_cost_q"),
            )
        )

    def merge(prev: DataFrame, b: DataFrame) -> DataFrame:
        return (
            prev.unionByName(b)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("sum_tokens").cast("bigint").alias("sum_tokens"),
                F.sum("sum_cost_q").cast("bigint").alias("sum_cost_q"),
            )
        )

    snap = _upsert_snapshot(spark, src_dir, "s31", batch_reduce, merge)
    return snap.select(
        "source", "n_docs", "sum_tokens", "sum_cost_q",
        F.expr("sum_cost_q DIV GREATEST(sum_tokens, 1)")
        .cast("bigint").alias("nats_per_token_micro"),
    )


def _set_s31_oracle() -> None:
    from dataclasses import replace

    from hiveka_spark.queries import REGISTRY
    from hiveka_spark.queries.tokenizer_ext import _x137_oracle

    spec = REGISTRY["s31_stream_likelihood_drift"]
    REGISTRY["s31_stream_likelihood_drift"] = replace(
        spec, oracle=_x137_oracle()
    )


_set_s31_oracle()


# ---------------------------------------------------------------------------
# s32 — live IVF index WITH in-stream compaction (s29 x x135, concurrent)
# ---------------------------------------------------------------------------


@register(
    "s32_stream_ivf_compacting",
    oracle=_s29_oracle(),
    tags=("streaming", "similarity", "ann", "ivf", "index-maintenance",
          "compaction"),
)
def s32_stream_ivf_compacting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE IVF index with compaction CONCURRENT with ingest (round-14
    verdict #5): s29's append-per-micro-batch sink, but the accumulated
    segments fold mid-stream whenever the committed count reaches the
    threshold — compaction runs between micro-batches with ``before =
    the current batch's version`` (the neardup in-stream rule) and the
    even/odd version spacing keeps the fold's publish slot collision-free
    against both replayed and future batches.  The convergence contract
    is unchanged and so is the oracle: a query served from the drained
    (and now partially folded) index equals one-shot ivf_topk over the
    full corpus — compaction changed the index's FILE layout, never its
    content, even though it ran while the index was growing.

    Scale shape: s29's per batch (broadcast-centroid argmax + one
    segment write) plus, amortized, one cell-sorted rewrite of the
    accumulated index — exactly the bounded-listing policy a perpetual
    ANN ingest needs (the rewrite is also where the cell-clustered file
    layout is refreshed).  Tests pin the serving-equality at EVERY batch
    boundary and a crash between the fold's publish and its deletes
    mid-stream."""
    import glob as _glob
    import os as _os

    from hiveka_spark.catalog import table
    from hiveka_spark.operators.similarity import (
        ivf_index_topk,
        make_ivf_stream_sink,
    )

    src_dir = scratch_dir(prefix="gate_s32src_")
    root = scratch_dir(prefix="gate_s32idx_")
    e = table(spark, sf_dir, "embeddings")
    cents = (
        e.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") / 31 < 16))
        .select(
            F.expr("CAST(vec_id DIV 31 AS BIGINT)").alias("cell"), "embedding"
        )
        .localCheckpoint(eager=True)  # frozen offline parameters (k rows)
    )
    e.repartition(4).write.mode("overwrite").parquet(src_dir)
    P.drain_files(
        spark, src_dir, make_ivf_stream_sink(root, cents, compact_after=2),
        scratch_dir(prefix="ckpt_s32_"),
    )
    # compaction must actually have run mid-stream: at least one odd
    # (_COMPACTED) segment, fewer live segments than batches
    segs = _glob.glob(f"{root}/v=*")
    assert any(
        _os.path.exists(_os.path.join(d, "_COMPACTED")) for d in segs
    ), f"no mid-stream fold happened: {sorted(segs)}"
    return ivf_index_topk(
        spark, root, e.filter(F.col("vec_id") < 10), cents, k=5, n_probe=4
    ).localCheckpoint(eager=True)  # materialize before scratch cleanup


# ---------------------------------------------------------------------------
# s33 — LIVE kNN graph maintenance (x139 under streaming ingest)
# ---------------------------------------------------------------------------


def _s33_oracle() -> str:
    from hiveka_spark.queries.extensions import _X139_K, _ann_ivf_oracle

    return _ann_ivf_oracle(k=_X139_K, query_pred="TRUE")


@register(
    "s33_stream_knn_graph",
    oracle=_s33_oracle(),
    tags=("streaming", "similarity", "ann", "knn-graph",
          "index-maintenance"),
)
def s33_stream_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE kNN GRAPH — x139's corpus-wide edge list maintained under
    streaming ingest (the live x graph cell): vectors arrive in
    micro-batches; each batch appends to the IVF index, its nodes score
    against the whole accumulated index (new->all, intra-batch pairs
    included), all PRIOR nodes' frozen probe rows score against the
    batch's index rows (old->new — the s19 'pair discovered when the
    later one arrives' discipline at graph level), and the per-node
    top-k snapshot folds the batch's candidates with the one-shot rank
    rule.  Old vectors are NEVER re-read — the probe store carries the
    quantized payload.  Convergence contract: the drained snapshot
    equals one-shot ``ivf_topk(e, e, broadcast_queries=False)`` — the
    oracle is exactly x139's replay, and the tests pin invariance for
    several batch splits plus checkpoint replay.

    Scale shape per batch: one broadcast-centroid argmax, two cell-keyed
    equi-joins bounded by batch x cell occupancy, and a PER-QUERY DELTA
    write of Theta(involved x k) rows into the home-cell-partitioned
    edge store (round-15 verdict #1, landed round 16: only queries that
    gained candidates are rewritten — never the full snapshot, whose
    rewrite would scale with the corpus; reads keep each query's
    max-version rows and per-cell folds bound the listing — measured
    3.4x fewer rows/batch at the 10x trickle probe, SCALE.md)."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.similarity import (
        knn_graph_snapshot,
        make_knn_graph_sink,
    )
    from hiveka_spark.queries.extensions import _X139_K

    src_dir = scratch_dir(prefix="gate_s33src_")
    state_root = scratch_dir(prefix="gate_s33state_")
    e = table(spark, sf_dir, "embeddings")
    cents = (
        e.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") / 31 < 16))
        .select(
            F.expr("CAST(vec_id DIV 31 AS BIGINT)").alias("cell"), "embedding"
        )
        .localCheckpoint(eager=True)  # frozen offline parameters (k rows)
    )
    e.repartition(4).write.mode("overwrite").parquet(src_dir)
    P.drain_files(
        spark, src_dir,
        make_knn_graph_sink(state_root, cents, k=_X139_K, n_probe=4),
        scratch_dir(prefix="ckpt_s33_"),
    )
    return knn_graph_snapshot(spark, state_root).select(
        "query_id", "neighbor_id", "cosine", "rank"
    ).localCheckpoint(eager=True)  # materialize before scratch cleanup
