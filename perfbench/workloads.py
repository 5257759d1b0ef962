"""The benchmark's workloads, driving only the public API of ``hiveka_spark``.

Each workload has a repeatable set-up (``setup_rep``, run several times on
fresh state so ``setup_s`` is a median), a warm-up that runs every op
type once, and ``op(i, t)``: one closed-loop operation of type ``t`` that
returns ``(op_type, records_consumed, ok, cause)`` and brackets its engine
work with ``start``/``stop``.  Expected answers come from
``oracle`` (DuckDB over the same parquet); the engine's answers are
never compared with themselves.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from hiveka_spark.operators import dedup as D
from hiveka_spark.sources.avro_codec import encode_record
from hiveka_spark.sources.kafka_io import (
    KafkaTableConfig,
    OffsetStore,
    decode_wire,
    pushdown_time_predicate,
    read_kafka_batch,
    register_kafka_table,
    write_kafka,
)
from hiveka_spark.sources.kafka_sim import SimBroker
from hiveka_spark.streaming.curation import (
    StreamCurationSink,
    curated_topic_config,
    read_compacted,
)
from hiveka_spark.streaming.kafka_sink import KafkaStreamSink
from hiveka_spark.streaming.neardup import committed_versions

from perfbench import fixtures, oracle

EVENTS_DDL = "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
FIXTURE_EVENTS_DDL = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
DOCS_DDL = "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
EVENT_COLS = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
PARTITIONS = 4


def timestamp_encode_fault() -> str:
    """The error the Python Avro codec raises when ``write_kafka`` encodes a
    fixture ``events`` row with its TIMESTAMP column, or '' once it can.
    Same call ``write_kafka`` makes per row, without Spark."""
    cfg = KafkaTableConfig("sim://bench", whitelist_topics=["events"], ddl=FIXTURE_EVENTS_DDL)
    row = pq.read_table(fixtures.path("events")).slice(0, 1).to_pandas().iloc[0].to_dict()
    try:
        encode_record(json.loads(cfg.schema_json()), row)
    except ValueError as exc:
        return f"{type(exc).__name__}: {exc}"
    return ""


def _same_groups(got: dict, want: dict) -> str:
    """'' when equal: counts exact, sums to 1e-9 relative (summation order differs)."""
    if set(got) != set(want):
        return f"groups {sorted(got)} != {sorted(want)}"
    for k, (n, s) in want.items():
        gn, gs = got[k]
        if gn != n or not math.isclose(gs, s, rel_tol=1e-9, abs_tol=1e-6):
            return f"group {k}: got ({gn}, {gs}) want ({n}, {s})"
    return ""


def _groups(rows) -> dict:
    return {r[0]: (int(r[1]), float(r[2])) for r in rows}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*", recursive=True) if os.path.isfile(p))


def _parquet_files(path: str) -> int:
    return len(glob.glob(f"{path}/partition=*/*.parquet"))


class Workload:
    name = ""
    op_types: tuple[str, ...] = ()
    min_ops = 1  # a run measures at least this many ops, whatever --seconds says

    def __init__(self, spark, work: str, seed: int, tracer, layers: dict):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.rng = np.random.default_rng([seed, 7])
        # per-op layer timings measured around the benchmark's own calls
        # (key -> list of values, one per op that touched the layer)
        self.layers = layers
        self._order: list[str] = []

    def note(self, key: str, value: float) -> None:
        self.layers.setdefault(key, []).append(value)

    def timed(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        with self.tracer.span(key):
            out = fn(*args, **kwargs)
        self.note(key, time.perf_counter() - t0)
        return out

    def start(self) -> None:
        """Open the op's engine window, and its traced ``op`` span; answer
        checks come after ``stop``."""
        self.wall = None
        self.op_span = self.tracer.open("op")
        self.t_start = time.perf_counter()

    def stop(self) -> None:
        self.wall = time.perf_counter() - self.t_start
        self.tracer.close(self.op_span)

    def next_type(self) -> str:
        """Seeded order, balanced: each block of len(op_types) ops is a
        fresh permutation of every type."""
        if not self._order:
            self._order = [self.op_types[i] for i in self.rng.permutation(len(self.op_types))]
        return self._order.pop(0)

    def block_open(self) -> bool:
        return bool(self._order)

    def fresh(self, sub: str) -> str:
        path = os.path.join(self.work, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def guards(self) -> dict:
        return {}

    def state(self) -> dict:
        return {}

    def faults(self) -> dict:
        """Per-layer count of a known program fault, with its cause."""
        return {}

    def describe(self, v: dict, op_p50: float, cores: int) -> str:
        """A line on what the traced run shows, beside the fixture's figures."""
        return ""


# ---------------------------------------------------------------------------
class TopicQuery(Workload):
    """Read-only Kafka table: every op re-scans and re-decodes the topic."""

    name = "topic_query"
    topic = "events"
    op_types = ("count", "star", "project", "groupby", "join", "timetravel", "resume")
    N_EVENTS = 20_000  # a fifth of sf0.1 events, about six days of it

    def prepare(self) -> None:
        self.events_path = fixtures.write(fixtures.events_window(self.N_EVENTS, self.seed),
                                          os.path.join(self.work, "events.parquet"))
        self.customer_path = fixtures.path("customer")
        self.expected = oracle.event_answers(self.events_path, self.customer_path)
        ts = pq.read_table(self.events_path, columns=["ts_us"])["ts_us"].to_numpy()
        # four seeded millisecond cutoffs near the middle of the topic's time
        # range and four resume points near the middle of each partition's
        # log, so a time-travel or resume op reads about half the topic
        self.cutoffs = [int(ts[int(q * (len(ts) - 1))]) // 1000 for q in self.rng.uniform(0.45, 0.55, 4)]
        self.resume_fracs = [self.rng.uniform(0.45, 0.55, PARTITIONS) for _ in range(4)]

    def setup_rep(self, rep: int) -> None:
        root = self.fresh(f"broker{rep}")
        self.broker = SimBroker(root)
        self.broker.create_topic("events", partitions=PARTITIONS)
        self.cfg = KafkaTableConfig(bootstrap_servers="sim://bench", whitelist_topics=["events"],
                                    ddl=EVENTS_DDL)
        src = self.spark.read.parquet(self.events_path).withColumn("ts", F.timestamp_micros("ts_us"))
        write_kafka(src, self.cfg, "events", key_col="event_id", broker=self.broker, ts_col="ts")
        register_kafka_table(self.spark, "events_k", self.cfg, broker=self.broker)
        self.spark.read.parquet(self.customer_path).createOrReplaceTempView("customer")
        self.topic_dir = os.path.join(root, "events")

    def after_setup(self) -> None:
        latest = self.broker.latest()["events"]
        self.resume_points = [
            {p: int(f * latest[p]) for p, f in zip(sorted(latest), fr)} for fr in self.resume_fracs
        ]
        self.resume_expected = [oracle.resume_answer(self.events_path, self.topic_dir, rp)
                                for rp in self.resume_points]
        self.tt_expected = [oracle.timetravel_answer(self.events_path, c) for c in self.cutoffs]
        self.fault = timestamp_encode_fault()

    def _collect(self, df):
        rows = self.timed("query.collect_s", df.collect)
        self.stop()
        return rows

    def op(self, i: int, t: str):
        n, sql = self.N_EVENTS, self.spark.sql
        exp = self.expected
        k = int(self.rng.integers(4))
        self.start()
        if t == "count":
            (row,) = self._collect(sql("SELECT COUNT(*) FROM events_k"))
            return t, n, row[0] == exp["count"], f"count {row[0]} != {exp['count']}"
        if t == "star":
            rows = self._collect(sql(f"SELECT {', '.join(EVENT_COLS)} FROM events_k"))
            ok = sorted(tuple(r) for r in rows) == exp["star"]
            return t, n, ok, f"{len(rows)} rows differ from the {len(exp['star'])} expected"
        if t == "project":
            rows = self._collect(sql("SELECT event_id, user_id FROM events_k"))
            ok = sorted(tuple(r) for r in rows) == exp["project"]
            return t, n, ok, f"{len(rows)} projected rows differ from expected"
        if t == "groupby":
            got = _groups(self._collect(sql(
                "SELECT event_type, COUNT(*), SUM(value) FROM events_k GROUP BY event_type")))
            err = _same_groups(got, exp["groupby"])
            return t, n, not err, err
        if t == "join":
            got = _groups(self._collect(sql(
                "SELECT c_mktsegment, COUNT(*), SUM(value) FROM events_k "
                "JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment")))
            err = _same_groups(got, exp["join"])
            return t, n, not err, err
        if t == "timetravel":
            cut = self.cutoffs[k]
            cfg = self.timed("kafka_io.timetravel_resolve_s", pushdown_time_predicate,
                             self.spark, self.cfg, cut, broker=self.broker)
            df = self.timed("kafka_io.plan_s", lambda: decode_wire(
                read_kafka_batch(self.spark, cfg, broker=self.broker), cfg))
            got = _groups(self._collect(df.filter(F.col("ts_us") >= cut * 1000).groupBy("event_type")
                                        .agg(F.count(F.lit(1)), F.sum("value"))))
            latest = self.broker.latest()["events"]
            recs = sum(latest[p] - cfg.starting_offsets["events"][p] for p in latest)
            err = _same_groups(got, self.tt_expected[k])
            return t, recs, not err, err
        if t == "resume":
            store = OffsetStore(os.path.join(self.work, f"offsets_{i}.json"))
            start, end = self.timed("kafka_io.offsets_s", self._resolve, store, self.resume_points[k])
            cfg = KafkaTableConfig("sim://bench", whitelist_topics=["events"], ddl=EVENTS_DDL,
                                   starting_offsets=start, ending_offsets=end)
            df = self.timed("kafka_io.plan_s", lambda: decode_wire(
                read_kafka_batch(self.spark, cfg, broker=self.broker), cfg))
            got = _groups(self._collect(df.groupBy("event_type").agg(F.count(F.lit(1)), F.sum("value"))))
            recs = sum(end["events"][p] - start["events"][p] for p in end["events"])
            err = _same_groups(got, self.resume_expected[k])
            return t, recs, not err, err
        raise ValueError(f"unknown op type {t}")

    def faults(self) -> dict:
        return {"avro_codec.timestamp_encode_faults": (1, self.fault) if self.fault else (0, "")}

    def describe(self, v: dict, op_p50: float, cores: int) -> str:
        dec, scan, drv = v["avro_codec.decode_python_s"], v["kafka_sim.scan_time_s"], v["spark.driver_only_s"]
        return (f"op p50 {op_p50:.2f} s: Avro decode {dec:.2f} s of Python-worker time on {cores} cores "
                f"(~{dec / cores / op_p50:.0%} of the op wall), log scan {scan:.2f} s of task time "
                f"(~{scan / cores / op_p50:.0%}), driver-only {drv:.2f} s ({drv / op_p50:.0%})")

    def _resolve(self, store: OffsetStore, point: dict):
        store.commit({"events": point})
        start, end = store.resolve_range(self.broker.earliest(), self.broker.latest())
        return json.loads(start), json.loads(end)


# ---------------------------------------------------------------------------
class LiveCuration(Workload):
    """The s23 stream: produce a chunk, drain it through the curation sink,
    read the curated delta back from the compacted topic."""

    name = "live_curation"
    topic = "docs_raw"
    min_ops = 2
    op_types = ("curate",)
    CHUNK = 200  # documents per micro-batch; sf0.1 has 4,750 training documents

    def prepare(self) -> None:
        self.docs_path = fixtures.write(fixtures.documents_chunks(self.seed, self.CHUNK),
                                        os.path.join(self.work, "documents.parquet"))
        self.expected: dict[int, dict] = {}

    def setup_rep(self, rep: int) -> None:
        root = self.fresh(f"curation{rep}")
        s = self.spark
        docs = s.read.parquet(self.docs_path)
        ev = docs.filter(F.col("source") == fixtures.EVAL_SOURCE)
        self.ev_sh = D.eval_shingle_set(ev, "text", k=3).localCheckpoint(eager=True)
        self.bitset = D.build_bloom_bitset(self.ev_sh)
        self.broker = SimBroker(os.path.join(root, "broker"))
        self.broker.create_topic("docs_raw", partitions=PARTITIONS)
        self.broker.create_topic("docs_curated", partitions=PARTITIONS)
        self.cfg_in = KafkaTableConfig(bootstrap_servers="sim://bench", whitelist_topics=["docs_raw"],
                                       ddl=DOCS_DDL)
        self.cfg_out = curated_topic_config("sim://bench", "docs_curated")
        self.state_root = os.path.join(root, "state")
        self.sink = StreamCurationSink(
            self.state_root,
            _TimedSink(KafkaStreamSink(self.cfg_out, "docs_curated", os.path.join(root, "commits"),
                                       broker=self.broker, key_col="doc_id",
                                       tombstone_col="_tombstone"),
                       self, "kafka_sink.produce_s"),
            self.bitset, self.ev_sh, num_perm=32, bands=8, k=3, threshold=0.8,
        )
        self.checkpoint = os.path.join(root, "checkpoint")
        self.topic_dir = os.path.join(root, "broker", "docs_raw")
        self.next_chunk = 0

    def after_setup(self) -> None:
        # the warm-up chunk and the loop's minimum chunks, before the clock runs
        for k in range(1 + self.min_ops):
            self.chunk_expected(k)

    def chunk_expected(self, k: int) -> dict:
        if k not in self.expected:
            self.expected[k] = oracle.curation_chunk(self.docs_path, k)
        return self.expected[k]

    def op(self, i: int, t: str):
        k = self.next_chunk
        self.next_chunk += 1
        want = self.chunk_expected(k)
        s = self.spark
        src = s.read.parquet(self.docs_path).filter(F.col("chunk") == k).select(
            "doc_id", "text", "lang", "n_chars")
        before = dict(self.broker.latest()["docs_curated"])
        files0 = _parquet_files(self.topic_dir)
        self.start()
        self.timed("kafka_io.write_kafka_s", write_kafka, src, self.cfg_in, "docs_raw",
                   key_col="doc_id", broker=self.broker)
        progress = self.timed("stream.drain_s", self._drain)
        delta = self.timed("curation.readback_s", lambda: read_compacted(
            s, self.cfg_out, broker=self.broker,
            start_offsets={int(p): o for p, o in before.items()}).collect())
        self.stop()
        self.note("kafka_sim.produce_files_per_op", _parquet_files(self.topic_dir) - files0)
        self._note_progress(progress)
        after = self.broker.latest()["docs_curated"]
        produced = sum(after[p] - before[p] for p in after)
        got = sorted((r["doc_id"], r["lang"], r["n_chars"]) for r in delta)
        for key, v in (("input_docs", want["input_docs"]), ("gopher_pass", want["gopher_pass"]),
                       ("contaminated", want["contaminated"]), ("dup_dropped", want["dup_dropped"]),
                       ("produced", produced), ("tombstones", produced - len(got))):
            self.note(f"curation.{key}", v)
        want_produced = len(want["delta"]) + len(want["tombstones"])
        if got != want["delta"]:
            return "curate", want["input_docs"], False, (
                f"chunk {k}: curated delta has {len(got)} rows, expected {len(want['delta'])}")
        if produced != want_produced:
            return "curate", want["input_docs"], False, (
                f"chunk {k}: produced {produced} records, expected {want_produced}")
        return "curate", want["input_docs"], True, ""

    def _drain(self):
        typed = decode_wire(self.broker.stream(self.spark, "docs_raw"), self.cfg_in).select(
            "doc_id", "text", "lang", "n_chars")
        q = (typed.writeStream.foreachBatch(_TimedSink(self.sink, self, "curation.sink_s"))
             .outputMode("append").option("checkpointLocation", self.checkpoint)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return q.recentProgress

    def _note_progress(self, progress) -> None:
        phases = {"addBatch": "add_batch", "queryPlanning": "query_planning",
                  "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
                  "latestOffset": "latest_offset", "triggerExecution": "trigger"}
        batches = [p for p in progress if p.numInputRows > 0]
        self.note("stream.batches_per_op", len(batches))
        for src, dst in phases.items():
            self.note(f"stream.{dst}_s", sum(p.durationMs.get(src, 0) for p in progress) / 1e3)
        if self.tracer.enabled:
            from datetime import datetime

            drains = [sp for sp in self.tracer.spans if sp.name == "stream.drain_s"]
            parent = drains[-1].id if drains else None
            for p in progress:
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                trig = self.tracer.add("stream.trigger", start,
                                       start + p.durationMs.get("triggerExecution", 0) / 1e3, parent,
                                       batch=p.batchId, rows=p.numInputRows)
                t = start
                for src in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
                    d = p.durationMs.get(src, 0) / 1e3
                    self.tracer.add(f"stream.{phases[src]}", t, t + d, trig.id)
                    t += d

    def guards(self) -> dict:
        """Every stage must do work in the chunks every run of this seed drains."""
        want = [self.chunk_expected(k) for k in range(1 + self.min_ops)]
        return {"contaminated": sum(w["contaminated"] for w in want),
                "dup_dropped": sum(w["dup_dropped"] for w in want),
                "produced": sum(len(w["delta"]) + len(w["tombstones"]) for w in want)}

    def describe(self, v: dict, op_p50: float, cores: int) -> str:
        fx = oracle.curation_totals(self.docs_path)
        return (f"stage survival of this run's chunks: Gopher {v['curation.gopher_share']:.3f}, "
                f"decontamination {v['curation.decontam_share']:.3f}, dedup {v['curation.dedup_share']:.3f}; "
                f"whole sf0.1 fixture (DuckDB, {fx['input_docs']} training documents): "
                f"Gopher {fx['gopher_pass']}/{fx['input_docs']} = {fx['gopher_pass'] / fx['input_docs']:.3f}, "
                f"flagged {fx['contaminated']}/{fx['gopher_pass']}, decontamination "
                f"{fx['part'] / fx['gopher_pass']:.3f}, dedup {fx['kept']}/{fx['part']} = {fx['kept'] / fx['part']:.3f}")

    def state(self) -> dict:
        return {"index_dirs": len(committed_versions(os.path.join(self.state_root, "bands"), 10**9)),
                "state_mb": _dir_bytes(self.state_root) / 2**20}


class _TimedSink:
    """Times a foreachBatch callable the benchmark constructed."""

    def __init__(self, fn, wl: Workload, key: str):
        self.fn, self.wl, self.key = fn, wl, key

    def __call__(self, batch_df, batch_id):
        self.wl.timed(self.key, self.fn, batch_df, batch_id)


WORKLOADS = {w.name: w for w in (TopicQuery, LiveCuration)}
