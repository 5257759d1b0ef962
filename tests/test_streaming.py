"""Structured Streaming semantics: windowed aggs match their batch twins,
dedup state works, watermark drops late data across checkpointed runs,
foreachBatch sinks write exactly once."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from hiveka_spark.catalog import table
from hiveka_spark.streaming.pipeline import (
    dedup_stream,
    drain_files,
    events_stream,
    run_available_now,
    run_foreach_batch_parquet,
    session_counts,
    sliding_counts,
    stream_static_join,
    tumbling_counts,
)

from .conftest import SF_SMOKE

_name_counter = [0]


def _qname() -> str:
    _name_counter[0] += 1
    return f"mem_sink_{_name_counter[0]}"


def test_tumbling_stream_matches_batch(spark):
    """Streaming tumbling hourly counts (complete mode over a full drain)
    must equal the batch group-by."""
    stream = events_stream(spark, SF_SMOKE)
    got = run_available_now(
        tumbling_counts(stream), _qname(), output_mode="complete"
    ).collect()
    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
        .collect()
    )
    want = {(r["window_start"], r["event_type"]): r["cnt"] for r in batch}
    assert len(got) == len(want)
    for r in got:
        assert want[(r["window_start"], r["event_type"])] == r["cnt"]


def test_session_stream_matches_batch_sessionization(spark):
    """session_window sessions-per-user must equal the batch lag+cumsum
    computation (q22) — same 30-minute gap semantics."""
    stream = events_stream(spark, SF_SMOKE)
    got = run_available_now(
        session_counts(stream, gap="30 minutes"), _qname(), output_mode="complete"
    )
    per_user = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in got.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    from hiveka_spark.queries.relational import q22_sessionization

    batch = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in q22_sessionization(spark, SF_SMOKE).collect()}
    assert per_user == batch


def test_sliding_windows_cover_each_event_twice(spark):
    stream = events_stream(spark, SF_SMOKE)
    got = run_available_now(
        sliding_counts(stream, window="1 hour", slide="30 minutes"),
        _qname(),
        output_mode="complete",
    )
    total_events = table(spark, SF_SMOKE, "events").count()
    # 1h window sliding by 30min => every event in exactly 2 windows
    assert got.agg(F.sum("cnt")).collect()[0][0] == 2 * total_events


def test_streaming_dedup(spark, tmp_path):
    """Replay with duplicated input: dropDuplicates keyed on event_id keeps
    one row per event."""
    stream = events_stream(spark, SF_SMOKE)
    doubled = stream.unionByName(stream)  # same source twice in one DAG
    out = run_available_now(
        dedup_stream(doubled, ["event_id"], watermark="10 hours"),
        _qname(),
        checkpoint=str(tmp_path / "ckpt"),
    )
    n = out.count()
    assert n == table(spark, SF_SMOKE, "events").count()


def test_stream_static_join(spark):
    stream = events_stream(spark, SF_SMOKE)
    static = (
        table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("user_bucket", F.pmod("user_id", F.lit(10)))
    )
    joined = stream_static_join(stream, static, "user_id")
    got = run_available_now(
        joined.groupBy("user_bucket").count(), _qname(), output_mode="complete"
    )
    assert got.agg(F.sum("count")).collect()[0][0] == table(spark, SF_SMOKE, "events").count()


def test_watermark_drops_late_data_across_checkpointed_runs(spark, tmp_path):
    """Two availableNow runs sharing a checkpoint: run 1 advances the
    watermark past hour H; run 2 delivers late events inside hour H -> the
    closed window must NOT reappear in append output."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)

    def write_file(rows, name):
        mk(rows).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # run 1: events at 10:xx and 14:xx -> watermark (2h) ends far past hour 10
    write_file(
        [
            (1, t0, 1, "click", 1.0, "{}"),
            (2, t0 + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
            (3, t0 + dt.timedelta(hours=4), 1, "click", 1.0, "{}"),
        ],
        "f1",
    )
    stream_schema = mk([]).schema
    out_dir = str(tmp_path / "sink")

    def run():
        # parquet sink (not memory): supports checkpoint recovery, so run 2
        # resumes the watermark state persisted by run 1
        s = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        agg = tumbling_counts(s, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    first = run()
    counts1 = {(r["window_start"], r["cnt"]) for r in first if r["window_start"].hour == 10}
    assert (dt.datetime(2024, 6, 1, 10, 0), 2) in counts1  # hour-10 window closed with 2 events

    # run 2: a LATE event inside hour 10 (watermark already at 12:xx+)
    write_file([(4, t0 + dt.timedelta(minutes=30), 1, "click", 1.0, "{}")], "f2")
    second = run()
    # late row is beyond the watermark: the closed hour-10 window must not
    # re-emit or change — cumulative sink output for hour 10 is unchanged
    counts2 = {(r["window_start"], r["cnt"]) for r in second if r["window_start"].hour == 10}
    assert counts2 == counts1


def test_foreach_batch_parquet_sink(spark, tmp_path):
    stream = events_stream(spark, SF_SMOKE)
    out_dir = str(tmp_path / "out")
    run_foreach_batch_parquet(stream.select("event_id", "event_type"), out_dir, str(tmp_path / "ck"))
    written = spark.read.parquet(out_dir + "/batch=*")
    assert written.count() == table(spark, SF_SMOKE, "events").count()


def test_drain_files_one_file_per_batch_and_resumes(spark, tmp_path):
    """The contract every file-stream gate relies on: a 3-file dir drains
    as batch ids 0, 1, 2, one file each, and a second drain on the same
    checkpoint finds nothing new."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table(spark, SF_SMOKE, "events").select("event_id").repartition(3).write.parquet(src)
    calls: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        calls.append((batch_id, batch_df.count()))

    drain_files(spark, src, sink, ckpt)
    assert [b for b, _ in calls] == [0, 1, 2]
    assert all(n > 0 for _, n in calls)
    assert sum(n for _, n in calls) == table(spark, SF_SMOKE, "events").count()
    calls.clear()
    drain_files(spark, src, sink, ckpt)
    assert calls == []


def test_update_mode_emits_incrementally_and_converges(spark, tmp_path):
    """Update output mode: each micro-batch emits only the keys whose
    aggregate changed.  Two single-file triggers over overlapping key sets
    must produce >1 emission for overlapping keys, and the latest emission
    per key (counts are monotone for a count agg) must equal the batch
    answer — update mode converges to complete mode."""
    src = str(tmp_path / "src")
    events = table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    half_a.coalesce(1).write.mode("append").parquet(src)
    half_b.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sink = run_available_now(agg, _qname(), output_mode="update")
    emissions = sink.collect()

    batch = {r["event_type"]: r["count"] for r in events.groupBy("event_type").count().collect()}
    # overlapping keys appear once per trigger => more emissions than keys
    assert len(emissions) > len(batch)
    latest = {}
    for r in emissions:  # count agg is monotone, so max == latest
        latest[r["event_type"]] = max(latest.get(r["event_type"], 0), r["cnt"])
    assert latest == batch


def test_checkpoint_kill_and_resume_converges(spark):
    """VERDICT r1 #8: restart-from-checkpoint — the Spark twin of the
    reference's kafka_offset_* resume (KafkaInputFormat.java:471-501).

    Drain 1 sees only the first source file, then terminates (the "kill":
    availableNow stops at the offsets known at start).  More files land and
    drain 2 restarts from the SAME checkpoint into the same idempotent
    foreachBatch parquet sink (the memory sink does not support recovery).
    Source offsets and keyed state must both resume: drain 2 reads only the
    new files, yet its running counts cover drain 1's data, and the combined
    final emissions equal the batch group-by over the full corpus."""
    import glob
    import shutil
    import tempfile

    from hiveka_spark.streaming.pipeline import run_foreach_batch_parquet
    from hiveka_spark.streaming.stateful import final_running_stats, running_user_stats

    events = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    staging = tempfile.mkdtemp(prefix="resume_staging_")
    events.repartition(3).write.mode("overwrite").parquet(staging)
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    assert len(parts) == 3
    src = tempfile.mkdtemp(prefix="resume_src_")
    ckpt = tempfile.mkdtemp(prefix="resume_ckpt_")
    out = tempfile.mkdtemp(prefix="resume_out_")

    def drain():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            run_foreach_batch_parquet(
                running_user_stats(stream), out, ckpt, output_mode="update"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    shutil.copy(os.path.join(staging, parts[0]), src)
    drain()
    batches_run1 = sorted(glob.glob(os.path.join(out, "batch=*")))
    assert len(batches_run1) == 1  # one file -> one micro-batch

    for p in parts[1:]:
        shutil.copy(os.path.join(staging, p), src)
    drain()
    batches_run2 = sorted(glob.glob(os.path.join(out, "batch=*")))
    # resume, not restart: batch ids CONTINUED from the checkpoint (0,1,2) —
    # run 2 processed exactly the two new files, never refetching file 1
    assert [os.path.basename(b) for b in batches_run2] == ["batch=0", "batch=1", "batch=2"]

    emissions = spark.read.parquet(os.path.join(out, "batch=*"))
    got = {
        r["user_id"]: r["n_events"]
        for r in final_running_stats(emissions).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want, "resumed stream did not converge to the batch answer"


def test_s12_distinct_multi_batch_drain_stays_exact(spark, tmp_path):
    """Chained stateful ops (dedup -> windowed count) drained one file per
    micro-batch: dedup state must carry across batches so the complete-mode
    final emission equals the batch COUNT(DISTINCT)."""
    import tempfile

    import pyspark.sql.functions as F

    from hiveka_spark.catalog import table
    from hiveka_spark.streaming import pipeline as P

    events = table(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id")
    src = str(tmp_path / "two_files")
    events.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    keyed = stream.select(
        "user_id",
        F.floor(F.unix_millis("ts") / 3600000).cast("bigint").alias("hour_bucket"),
        "ts",
    )
    dedup = keyed.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "hour_bucket"]
    )
    agg = dedup.groupBy("hour_bucket").agg(F.count(F.lit(1)).alias("n_users"))
    out = P.run_available_now(
        agg, "t_s12_mb", "complete",
        checkpoint=tempfile.mkdtemp(prefix="ckpt_s12_mb_"), shuffle_partitions=8,
    )
    got = {r["hour_bucket"]: r["n_users"] for r in out.collect()}
    want = {
        r["hb"]: r["n"]
        for r in events.select(
            F.floor(F.unix_millis("ts") / 3600000).cast("bigint").alias("hb"), "user_id"
        )
        .distinct()
        .groupBy("hb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_left_outer_ssj_watermark_eviction(spark):
    """s13 semantics on a hand-built fixture with unambiguous boundaries:
    an unmatched click emits its null row once the global watermark (min of
    both inputs' max event time - delay) passes its window end; a click
    whose window is still open at the final watermark stays withheld."""
    import tempfile

    import pyspark.sql.functions as F

    H = 3_600_000
    B = 1_700_000_000_000  # realistic epoch base (epoch-0 event times break
    #                        watermark init in Spark; not our layer)
    rows = [
        (1, "click", B),                       # unmatched; closes B+1h << wm -> null row
        (2, "click", B), (2, "purchase", B + H // 2),  # matched pair
        (3, "click", B + int(45.5 * H)),       # closes B+46.5h > wm -> withheld
        (99, "purchase", B + 48 * H),          # advances the purchase watermark
    ]
    # click wm = B+45.5h-2h = B+43.5h; purchase wm = B+46h; global = B+43.5h
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ms long"
    ).select("user_id", "event_type", F.timestamp_millis("ms").alias("ts"))
    src = tempfile.mkdtemp(prefix="ossj_src_")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    purch = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    l = clicks.withWatermark("c_ts", "2 hours").alias("l")
    r = purch.withWatermark("p_ts", "2 hours").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.p_user"))
        & (F.col("r.p_ts") >= F.col("l.c_ts"))
        & (F.col("r.p_ts") <= F.col("l.c_ts") + F.expr("INTERVAL 1 hour"))
    )
    out = run_available_now(
        l.join(r, cond, "left_outer"), "t_ossj", "append",
        checkpoint=tempfile.mkdtemp(prefix="ckpt_ossj_"),
    )
    got = sorted((row["user_id"], row["p_user"]) for row in out.collect())
    assert got == [(1, None), (2, 2)]


def test_foreachbatch_upsert_merges_across_real_batches(spark, tmp_path):
    """The s16 pattern: a 3-file source with maxFilesPerTrigger=1 must invoke
    the sink 3 times, and the versioned merge must converge to the batch
    aggregate (replaying proves merge, not just single-batch passthrough)."""
    import os

    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    state_root = str(tmp_path / "state")
    spark.range(300).select(
        (F.col("id") % 10).alias("user_id"), F.col("id").alias("v")
    ).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    calls: list[int] = []
    latest: dict[str, str | None] = {"path": None}

    def sink(batch_df, batch_id):
        calls.append(batch_id)
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sv"),
        )
        if latest["path"] is not None:
            prev = batch_df.sparkSession.read.parquet(latest["path"])
            b = (
                prev.unionByName(b)
                .groupBy("user_id")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("sv").cast("bigint").alias("sv"),
                )
            )
        out = os.path.join(state_root, f"v{batch_id}")
        b.write.mode("overwrite").parquet(out)
        latest["path"] = out

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(calls) == 3, f"expected 3 micro-batches, sink saw {calls}"
    final = {
        r.user_id: (r.n, r.sv)
        for r in spark.read.parquet(latest["path"]).collect()
    }
    expected = {
        r.user_id: (r.n, r.sv)
        for r in spark.range(300)
        .select((F.col("id") % 10).alias("user_id"), F.col("id").alias("v"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("v").cast("bigint").alias("sv"))
        .collect()
    }
    assert final == expected


# ------------------------------------------- s28 secret retraction


def test_s28_retraction_demotes_on_second_occurrence(spark):
    """The point-in-time derivation retracts: a token unique after batch 1
    is a secret in that snapshot, and stops being one once batch 2
    delivers its second occurrence — same doc rows, demoted count."""
    from hiveka_spark.queries.streaming_queries import secret_report

    b1 = spark.createDataFrame(
        [(1, "SharedKey123456789"), (1, "UniqueKeyAAA111BBB222")],
        "doc_id long, w string",
    )
    b2 = spark.createDataFrame(
        [(2, "SharedKey123456789")], "doc_id long, w string"
    )
    snap1 = {r.doc_id: r for r in secret_report(b1).collect()}
    assert snap1[1].n_candidates == 2 and snap1[1].n_secrets == 2
    snap2 = {
        r.doc_id: r
        for r in secret_report(b1.unionByName(b2).distinct()).collect()
    }
    assert snap2[1].n_candidates == 2 and snap2[1].n_secrets == 1
    assert snap2[2].n_secrets == 0
