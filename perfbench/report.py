"""Turn one run's measurements into the declared metric set."""

from __future__ import annotations

import statistics

from perfbench import metrics as M
from perfbench.trace import read_event_log, self_times, union_length
from perfbench.workloads import TopicQuery, _dir_bytes

STREAM_PHASES = ("add_batch", "query_planning", "wal_commit", "commit_offsets", "latest_offset", "trigger")
CURATION_COUNTS = ("input_docs", "contaminated", "dup_dropped", "produced", "tombstones")


def _units(bench: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in bench[key]}


def end_to_end(bench: dict, log: M.OpLog, setup_s: float) -> M.Report:
    tl = M.tail(log.walls())
    values = {
        "setup_s": setup_s,
        "records_per_s": log.records_per_s(),
        "op_p50_s": M.p50(log.walls()),
        "op_tail_s": tl.value,
        "ok_op_share": 1.0 - log.error_rate(),
    }
    return _fill(bench, "end_to_end", values, M.MAX_END_TO_END)


def _fill(bench: dict, key: str, values: dict, cap: int) -> M.Report:
    """End-to-end metrics must all be measured; a per-layer metric of a
    layer the workload never calls reads 0."""
    rep = M.Report(cap)
    for name, unit in _units(bench, key).items():
        rep.add(name, float(values[name] if key == "end_to_end" else values.get(name, 0.0)), unit)
    rep.check_declared(bench[key])
    return rep


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(bench, wl, log, traced, tracer, layers, setup, mem, state,
              calib_before, log_dir) -> M.Report:
    v: dict[str, float] = dict(setup)
    # layer timings measured around the benchmark's calls: median per op
    for key in ("kafka_io.plan_s", "kafka_io.timetravel_resolve_s", "kafka_io.write_kafka_s",
                "kafka_io.offsets_s", "curation.sink_s", "kafka_sink.produce_s",
                "curation.readback_s", "kafka_sim.produce_files_per_op"):
        v[key] = _med(layers.get(key, []))
    per_type = log.per_type_p50()
    for t in TopicQuery.op_types:
        v[f"query.{t}_p50_s"] = per_type.get(t, 0.0)
    v["stream.batches_per_op"] = _med(layers.get("stream.batches_per_op", []))
    for ph in STREAM_PHASES:
        v[f"stream.{ph}_s"] = _med(layers.get(f"stream.{ph}_s", []))
    for c in CURATION_COUNTS:
        v[f"curation.{c}"] = sum(layers.get(f"curation.{c}", []))
    n_in = v["curation.input_docs"]
    gop = sum(layers.get("curation.gopher_pass", []))
    part = gop - v["curation.contaminated"]
    kept = v["curation.produced"] - v["curation.tombstones"]
    v["curation.kept_ratio"] = kept / n_in if n_in else 0.0
    v["curation.gopher_share"] = gop / n_in if n_in else 0.0
    v["curation.decontam_share"] = part / gop if gop else 0.0
    v["curation.dedup_share"] = kept / part if part else 0.0
    v["neardup.index_dirs"] = state.get("index_dirs", 0)
    v["curation.state_mb"] = state.get("state_mb", 0.0)
    log_records = sum(wl.broker.latest()[wl.topic].values())
    v["kafka_sim.log_bytes_per_record"] = _dir_bytes(wl.topic_dir) / max(1, log_records)
    v["spark.storage_blocks"] = mem["blocks"]
    v["retained_cache_mb"] = mem["retained_mb"]
    v["jvm.peak_rss_mb"] = mem["peak_rss_mb"]
    v["host.calib_s"] = calib_before
    v.update({k: n for k, (n, _) in wl.faults().items()})
    v.update(_spark_layers(log, tracer, log_dir))
    v["trace.overhead_ratio"] = _overhead(log, traced)
    return _fill(bench, "per_layer", v, M.MAX_PER_LAYER)


def _overhead(log: M.OpLog, traced: list[bool]) -> float:
    """Traced over untraced op wall, per op type, median of the ratios minus 1.

    Both kinds of op run in the traced run, whose Spark event log is on
    throughout, so this is the cost of recording spans only; in a workload
    whose state grows from op to op (live_curation) it also holds that
    growth, as its traced and untraced ops are different chunks."""
    ratios = []
    for t in sorted({o.op_type for o in log.ops}):
        on = [o.wall_s for o, tr in zip(log.ops, traced) if tr and o.op_type == t]
        off = [o.wall_s for o, tr in zip(log.ops, traced) if not tr and o.op_type == t]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return _med(ratios) - 1.0 if ratios else 0.0


def _is_log_scan(plan_text: str) -> bool:
    """A parquet scan of a topic log: it reads the Kafka wire columns."""
    cols = plan_text.split("]", 1)[0]
    return all(f"{c}#" in cols for c in ("key", "value", "offset"))


def _spark_layers(log, tracer, log_dir) -> dict[str, float]:
    """Per traced op: Spark jobs, stages, tasks, executor time and shuffle,
    the plan metrics of the decode/encode and log-scan nodes, and the self
    time of each layer call; each op's work is found by the submission time
    of its jobs and SQL executions."""
    work = read_event_log(log_dir)
    ops = [sp for sp in tracer.spans if sp.name == "op"]
    by_op: dict[int, list] = {}
    for sp in tracer.spans:
        by_op.setdefault(sp.op, []).append(sp)
    # each Spark job becomes a child span of the innermost call it ran under,
    # so a layer call's self time is the time it spends outside Spark jobs
    for op in ops:
        for j in work.jobs:
            if op.start <= j["start"] <= op.end:
                parent = tracer.innermost(j["start"], by_op[op.op])
                tracer.add("spark.job", j["start"], j["end"] or op.end, parent.id, op=op.op, job=j["id"])
    selft = self_times(tracer.spans)
    rows: dict[str, list[float]] = {}

    def put(k, x):
        rows.setdefault(k, []).append(x)

    for op in ops:
        spans = by_op[op.op]
        jobs = [j for j in work.jobs if op.start <= j["start"] <= op.end]
        stages = [work.stages[s] for j in jobs for s in j["stages"] if s in work.stages]
        put("spark.jobs_per_op", len(jobs))
        put("spark.stages_per_op", len(stages))
        put("spark.tasks_per_op", sum(s["tasks"] for s in stages))
        put("spark.executor_run_s", sum(s["run_s"] for s in stages))
        put("spark.shuffle_bytes", sum(s["shuffle_bytes"] for s in stages))
        busy = union_length([(j["start"], j["end"] or op.end) for j in jobs])
        put("spark.driver_only_s", (op.end - op.start) - busy)
        triggers = [sp for sp in spans if sp.name == "stream.trigger" and sp.counts.get("rows")]
        if triggers:
            in_batch = [j for j in jobs if any(t.start <= j["start"] <= t.end for t in triggers)]
            put("spark.jobs_per_batch", len(in_batch) / len(triggers))
        acc = {"dec_s": 0, "dec_rows": 0, "dec_bytes": 0, "enc_s": 0,
               "scan_ms": 0, "scan_files": 0, "scan_rows": 0}
        for ex in work.executions:
            if not op.start <= ex["start"] <= op.end:
                continue
            inner = tracer.innermost(ex["start"], spans)
            encode = inner is not None and inner.name in ("kafka_io.write_kafka_s", "kafka_sink.produce_s")
            for a in ex["accs"]:
                node, metric, text = work.acc_names[a]
                val = work.acc_values.get(a, 0)
                if node == "MapInPandas":
                    if metric == "time to run Python workers":
                        acc["enc_s" if encode else "dec_s"] += val
                    elif not encode and metric == "number of output rows":
                        acc["dec_rows"] += val
                    elif not encode and metric == "data sent to Python workers":
                        acc["dec_bytes"] += val
                elif node.startswith("Scan parquet") and _is_log_scan(text):
                    if metric == "scan time":
                        acc["scan_ms"] += val
                    elif metric == "number of files read":
                        acc["scan_files"] += val
                    elif metric == "number of output rows":
                        acc["scan_rows"] += val
        put("avro_codec.decode_python_s", acc["dec_s"] / 1e3)
        put("avro_codec.decode_rows", acc["dec_rows"])
        put("avro_codec.python_bytes_sent", acc["dec_bytes"])
        put("avro_codec.encode_python_s", acc["enc_s"] / 1e3)
        put("kafka_sim.scan_time_s", acc["scan_ms"] / 1e3)
        put("kafka_sim.scan_files", acc["scan_files"])
        put("kafka_sim.scan_rows_read", acc["scan_rows"])
        rec = log.ops[op.op].records
        put("kafka_sim.scan_useful_ratio", rec / acc["scan_rows"] if acc["scan_rows"] else 0.0)
        own: dict[str, float] = {}
        for sp in spans:
            if sp.name.endswith("_s"):  # layer calls; not the op or stream phases
                own[sp.name] = own.get(sp.name, 0.0) + selft[sp.id]
        for name, x in own.items():
            put(f"self.{name}", x)
    out = {k: _med(x) for k, x in rows.items()}
    out.setdefault("spark.jobs_per_batch", 0.0)
    return out
