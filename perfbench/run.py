"""Kafka-table benchmark for ``hiveka_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload topic_query --seed 1 --seconds 5 --trace 0

One process, one closed-loop client thread, ``local[4]``, 8 shuffle
partitions, ``spark.driver.memory`` 2g.  A run:

1. times a fixed pure-Python loop (``host.calib_s``) to show host speed;
2. takes the workload's inputs from the sf0.1 fixture tables in
   ``perfbench/fixtures/``, arranged by ``--seed`` (``fixtures.py``), and
   computes the expected answers with DuckDB;
3. set-up: starts the session once, builds the workload's state
   ``SETUP_REPS`` times from scratch, then runs every op type once;
   ``setup_s`` = session start + median set-up + that warm-up;
4. runs ops back to back for ``--seconds``, then finishes the current
   block of op types (each block runs every type once, in seeded order)
   and tops up to the workload's minimum op count, checking every answer;
5. prints the result as one JSON line, the last line of stdout.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, records spans around every call into a layer on every
other block of ops, and reports the per-layer metrics, with
``trace.overhead_ratio`` comparing traced and untraced ops of the same
type; spans are written to ``perfbench/.work/traces/``.  Metric
definitions live in ``metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
SETUP_REPS = 3
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def calib() -> float:
    """Seconds for a fixed pure-Python loop: host speed, never used to scale."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session(work: str, trace: bool):
    from hiveka_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def jvm_memory(spark) -> dict:
    """Storage memory still held after the loop, cached blocks, JVM peak RSS."""
    from pyspark import SparkContext

    sc = spark.sparkContext._jsc.sc()
    status = sc.getExecutorMemoryStatus()
    it = status.valuesIterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    blocks = sum(info.numCachedPartitions() for info in sc.getRDDStorageInfo())
    peak = 0.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak = int(line.split()[1]) / 1024
    return {"retained_mb": used / 2**20, "blocks": blocks, "peak_rss_mb": peak}


def run_op(wl, log, i: int, op_type=None) -> None:
    """One op; its latency is the engine work only, answer checks excluded."""
    t = op_type or wl.next_type()
    wl.t_start, wl.wall, wl.op_span = time.perf_counter(), None, None  # if it fails before start()
    try:
        t, recs, ok, cause = wl.op(i, t)
    except Exception as exc:  # a failed op is recorded and the loop goes on
        traceback.print_exc(file=sys.stderr)
        recs, ok, cause = 0, False, f"{type(exc).__name__}: {str(exc)[:300]}"
    if wl.wall is None:
        wl.stop()
    if wl.op_span is not None:
        wl.op_span.counts["type"] = t
    log.add(t, wl.wall, recs if ok else 0, ok, cause if not ok else "")


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import hiveka_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import hiveka_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import metrics as M
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    M.validate_declaration(bench)
    if args.workload not in WORKLOADS or args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, bench, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, bench, work, cls) -> int:
    from perfbench import metrics as M
    from perfbench import report
    from perfbench.trace import Tracer

    calib_before = calib()
    tracer = Tracer(False)
    layers: dict[str, list[float]] = {}
    t0 = time.perf_counter()
    spark = session(work, bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        wl = cls(spark, work, args.seed, tracer, layers)
        wl.prepare()
        reps = []
        for rep in range(SETUP_REPS):
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)  # drop the previous rep's state
            t = time.perf_counter()
            wl.setup_rep(rep)
            reps.append(time.perf_counter() - t)
        wl.after_setup()
        guards = wl.guards()
        if any(v == 0 for v in guards.values()):
            print(f"perfbench: degenerate inputs for seed {args.seed}: {guards}", file=sys.stderr)
            return 3
        warm = M.OpLog()
        t = time.perf_counter()
        for op_type in wl.op_types:
            run_op(wl, warm, -1, op_type)
        warmup_s = time.perf_counter() - t
        setup = {"session.start_s": session_s, "setup.produce_s": statistics.median(reps),
                 "setup.warmup_s": warmup_s}
        setup_s = sum(setup.values())
        print(f"set-up: session local[{CORES}], {SHUFFLE_PARTITIONS} shuffle partitions, "
              f"spark.driver.memory {DRIVER_MEMORY}, started in {session_s:.2f} s; "
              f"reps {[round(r, 2) for r in reps]} s; warm-up {warmup_s:.2f} s; guards {guards}")
        for key, (_, cause) in wl.faults().items():
            if cause:
                print(f"known program fault, not exercised by the timed ops ({key}): {cause}")
        layers.clear()

        log, traced = M.OpLog(), []
        deadline = time.perf_counter() + args.seconds
        i, block = 0, len(wl.op_types)
        # a traced run traces every other block, so each op type has traced
        # and untraced samples to compare: it needs two blocks at least
        min_ops = max(wl.min_ops, 2 * block) if args.trace else wl.min_ops
        # whole blocks only, so every run holds each op type equally often,
        # and at least the minimum sample
        while time.perf_counter() < deadline or wl.block_open() or log.attempted < min_ops:
            tracer.enabled = bool(args.trace) and (i // block) % 2 == 0
            tracer.op = i
            run_op(wl, log, i)
            traced.append(tracer.enabled)
            i += 1
        tracer.enabled = False
        mem = jvm_memory(spark)
        state = wl.state()
    finally:
        stop(spark)
    calib_after = calib()

    for phase, ops in (("warm-up", warm), ("timed", log)):
        for f in ops.failures():
            print(f"FAILED {phase} op {f['index']} ({f['op']}): {f['cause']}")
    tl = M.tail(log.walls())
    print("op walls (s):", " ".join(f"{o.op_type}={o.wall_s:.2f}" for o in log.ops))
    print(f"ops {log.attempted}, failed {log.failed}; op_p50_s over {tl.samples} samples; "
          f"op_tail_s is p{tl.percentile:.1f} with {tl.beyond} samples beyond it; "
          f"error_rate {log.error_rate():.3f}; host.calib_s {calib_before:.3f} -> {calib_after:.3f}; "
          f"JVM peak RSS {mem['peak_rss_mb']:.0f} MB, "
          f"storage used {mem['retained_mb']:.3f} MB in {mem['blocks']} cached blocks")
    if args.trace:
        rep = report.per_layer(bench, wl, log, traced, tracer, layers, setup, mem, state,
                               calib_before, os.path.join(work, "eventlog"))
        values = {k: m["value"] for k, m in rep.metrics.items()}
        print(f"traced: {len(tracer.spans)} spans; " + wl.describe(values, M.p50(log.walls()), CORES))
        out = os.path.join(ROOT, "perfbench", ".work", "traces")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"{args.workload}-{args.seed}.json"))
    else:
        rep = report.end_to_end(bench, log, setup_s)
    failed = log.failed + warm.failed
    print(M.result_line(failed == 0, log.attempted + warm.attempted, failed, rep))
    return 0


if __name__ == "__main__":
    sys.exit(main())
