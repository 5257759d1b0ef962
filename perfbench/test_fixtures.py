"""Unit tests for the benchmark's inputs; no Spark needed.

    python3 -m pytest perfbench/test_fixtures.py -q
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures as FX


def test_events_window_is_seeded_consecutive_and_exact():
    a, b = FX.events_window(1000, 3), FX.events_window(1000, 3)
    assert a.equals(b)
    ids = a["event_id"].to_numpy()
    ts = a["ts_us"].to_numpy()
    assert (np.diff(ts) >= 0).all() and len(set(ids)) == 1000
    full = pq.read_table(FX.path("events")).to_pandas().set_index("event_id")
    want = full.loc[ids, "ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    assert (want == ts).all()
    assert not FX.events_window(1000, 4).equals(a)


def test_documents_arrival_is_seeded_and_keeps_the_eval_split_out():
    d = FX.documents_chunks(5, 200).to_pandas()
    assert d.equals(FX.documents_chunks(5, 200).to_pandas())
    ev = d["source"] == FX.EVAL_SOURCE
    assert (d.loc[ev, "chunk"] == -1).all() and (d.loc[ev, "pos"] == -1).all()
    assert sorted(d.loc[~ev, "pos"]) == list(range(int((~ev).sum())))
    assert (d.loc[~ev, "chunk"] == d.loc[~ev, "pos"] // 200).all()
    assert not d["pos"].equals(FX.documents_chunks(6, 200).to_pandas()["pos"])


def test_each_copy_arrives_after_the_document_it_copies():
    d = FX.documents_chunks(9, 200).to_pandas()
    train = d[d["source"] != FX.EVAL_SOURCE]
    pos = dict(zip(train["text"], train["pos"]))
    copies = [(t, p) for t, p in zip(train["text"], train["pos"]) if t.endswith(FX.DUP_SUFFIX)]
    pairs = [(pos[t[: -len(FX.DUP_SUFFIX)]], p) for t, p in copies if t[: -len(FX.DUP_SUFFIX)] in pos]
    assert len(pairs) > 200
    assert all(orig < p for orig, p in pairs)
    gaps = sorted(p - orig for orig, p in pairs)
    assert gaps[len(gaps) // 2] < 200  # most pairs meet within one chunk's span
