"""Unit tests for the benchmark's metric code; no Spark needed.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import metrics as M
from perfbench.trace import Span, Tracer, self_times, union_length

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


# ------------------------------------------------------------ percentiles
def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    t = M.tail(xs)
    assert t.value == 30.0  # rank 30 leaves 31..40 beyond it
    assert t.beyond == 10
    assert t.percentile == pytest.approx(75.0)
    assert t.samples == 40


def test_tail_never_below_median_when_samples_are_few():
    for n in range(1, 23):
        xs = [float((i * 7) % n) for i in range(n)]
        t = M.tail(xs)
        assert t.value >= statistics.median(xs)
    short = M.tail([3.0, 1.0, 2.0])
    assert (short.value, short.percentile) == (2.0, 50.0)


def test_tail_at_threshold_sample_count():
    xs = [float(i) for i in range(22)]
    t = M.tail(xs)  # rank 11 (0-based) is the lowest that still sits at/above the median
    assert t.value == 11.0 and t.beyond == 10
    assert t.value >= M.p50(xs)


def test_tail_is_order_independent_and_rejects_empty():
    xs = [5.0, 1.0, 9.0] * 10
    assert M.tail(xs) == M.tail(sorted(xs))
    with pytest.raises(ValueError):
        M.tail([])
    with pytest.raises(ValueError):
        M.p50([])


# ------------------------------------------------------- error accounting
def test_oplog_counts_failures_with_type_and_cause():
    log = M.OpLog()
    log.add("count", 1.0, 100, True)
    log.add("star", 2.0, 0, False, "wrong answer")
    log.add("join", 1.0, 100, True)
    log.add("star", 3.0, 0, False, "RuntimeError: boom")
    assert (log.attempted, log.failed) == (4, 2)
    assert log.error_rate() == 0.5
    assert log.failures() == [
        {"index": 1, "op": "star", "cause": "wrong answer"},
        {"index": 3, "op": "star", "cause": "RuntimeError: boom"},
    ]
    # failed ops cost wall time but consume no records
    assert log.records_per_s() == pytest.approx(200 / 7.0)
    assert log.walls() == [1.0, 2.0, 1.0, 3.0]


def test_oplog_requires_a_cause_for_failures_and_ops_for_rates():
    log = M.OpLog()
    with pytest.raises(ValueError):
        log.add("count", 1.0, 0, False)
    with pytest.raises(ValueError):
        log.error_rate()


def test_per_type_medians_only_for_mixed_runs():
    one = M.OpLog()
    for w in (1.0, 2.0, 3.0):
        one.add("curate", w, 10, True)
    assert one.per_type_p50() == {}
    mixed = M.OpLog()
    for t, w in (("a", 1.0), ("b", 4.0), ("a", 3.0)):
        mixed.add(t, w, 1, True)
    assert mixed.per_type_p50() == {"a": 2.0, "b": 4.0}


# ----------------------------------------------------- names, units, caps
@pytest.mark.parametrize("name", ["op_p50_s", "kafka_sim.scan_files", "query.count_p50_s", "a", "9x-y"])
def test_good_names(name):
    M.Report(4).add(name, 1.0, "s")


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "a:b"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        M.Report(4).add(name, 1.0, "s")


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "records/s", "count", "%", "MB", "B"])
def test_good_units(unit):
    M.Report(4).add("m", 1.0, unit)


@pytest.mark.parametrize("unit", ["", "a b", "x" * 17, "s;"])
def test_bad_units(unit):
    with pytest.raises(ValueError):
        M.Report(4).add("m", 1.0, unit)


def test_report_rejects_duplicates_nonfinite_and_overflow():
    r = M.Report(2)
    r.add("a", 1.0, "s")
    with pytest.raises(ValueError):
        r.add("a", 2.0, "s")
    with pytest.raises(ValueError):
        r.add("b", float("nan"), "s")
    with pytest.raises(ValueError):
        r.add("b", True, "s")
    r.add("b", 2, "count")
    with pytest.raises(ValueError):
        r.add("c", 3.0, "s")


def test_caps_match_the_contract():
    assert M.MAX_END_TO_END == 16 and M.MAX_PER_LAYER == 128
    full = M.Report(M.MAX_END_TO_END)
    for i in range(M.MAX_END_TO_END):
        full.add(f"m{i}", 1.0, "s")
    with pytest.raises(ValueError):
        full.add("extra", 1.0, "s")


def test_check_declared_names_missing_and_wrong_units():
    r = M.Report(4)
    r.add("a", 1.0, "s")
    r.add("b", 1.0, "s")
    r.check_declared([{"name": "a", "unit": "s"}, {"name": "b", "unit": "s"}])
    with pytest.raises(ValueError, match="missing"):
        r.check_declared([{"name": "a", "unit": "s"}, {"name": "b", "unit": "s"}, {"name": "c", "unit": "s"}])
    with pytest.raises(ValueError, match="unit"):
        r.check_declared([{"name": "a", "unit": "ms"}, {"name": "b", "unit": "s"}])


def test_result_line_shape():
    r = M.Report(2)
    r.add("setup_s", 1.25, "s")
    d = json.loads(M.result_line(True, 3, 0, r))
    assert set(d) == {"correct", "attempted", "failed", "metrics"}
    assert d["metrics"] == {"setup_s": {"value": 1.25, "unit": "s"}}
    with pytest.raises(ValueError):
        M.result_line(True, 0, 0, r)


def test_declaration_file_obeys_grammar_and_caps():
    with open(BENCH) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    M.validate_declaration(bench)
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in bench["workloads"])


def test_validate_declaration_rejects_setup_without_largest_bound():
    bench = {
        "workloads": [{"name": "w", "why": "x"}],
        "end_to_end": [
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.1},
            {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.2},
        ],
        "per_layer": [{"name": "x.y", "unit": "count", "better": "higher"}],
    }
    with pytest.raises(ValueError, match="largest"):
        M.validate_declaration(bench)


# ------------------------------------------------------------------ spans
def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),   # overlaps a: union 1..6
        Span(3, "c", 8.0, 12.0, 0, 0),  # clipped to the parent: 8..10
        Span(4, "d", 2.0, 3.0, 1, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_tracer_open_close_nests_and_closes_inner_spans():
    tr = Tracer(True)
    op = tr.open("op")
    with tr.span("layer") as inner:
        pass
    left_open = tr.open("unclosed")
    tr.close(op)
    after = tr.open("check")  # work after the op window is not under it
    assert inner.parent == op.id and left_open.parent == op.id
    assert after.parent is None and op.end >= inner.end
    assert Tracer(False).open("op") is None
    Tracer(False).close(None)
