"""Crash safety of the file-backed stores.

Every store commits through ``hiveka_spark.commit``: a crash at any of
its filesystem steps, followed by a retry of the same call, must leave
the store exactly as a run that never crashed.  Inputs are a few rows per
version, so each case costs one or two tiny Spark writes."""

from __future__ import annotations

import os
import shutil
import types

import pyarrow.parquet as pq
import pytest

EDGE_DDL = (
    "query_id bigint, neighbor_id bigint, cosine double, rank bigint, "
    "home bigint, _v bigint"
)


def _write(spark, path: str, rows: list[tuple], ddl: str) -> None:
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(path)


def _edge_rows(home: int, version: int, queries: list[int]) -> list[tuple]:
    return [
        (q, 100 * q + r, 1.0 / r, r, home, version)
        for q in queries
        for r in (1, 2)
    ]


def _write_edges(spark, edges_root: str) -> None:
    """Two home cells, two delta versions each; query 10*cell+1 is
    superseded by version 4, so the fold drops its version-2 rows."""
    for cell in (0, 1):
        q = 10 * cell
        for version, queries in ((2, [q + 1, q + 2]), (4, [q + 1, q + 3])):
            _write(
                spark,
                os.path.join(edges_root, f"hc{cell}", f"b{version}"),
                _edge_rows(cell, version, queries),
                EDGE_DDL,
            )


def _graph(spark, state_root: str) -> list[tuple]:
    from hiveka_spark.operators.similarity import knn_graph_snapshot

    return sorted(
        tuple(r) for r in knn_graph_snapshot(spark, state_root)
        .select(*[c.split()[0] for c in EDGE_DDL.split(", ")])
        .collect()
    )


def test_compact_edge_cells_recovers_unmarked_fold_target(spark, tmp_path):
    """A crash between the rename of a staged ``c{top}`` into its cell and
    its marker leaves an unmarked ``c{top}`` next to intact inputs.  The
    retried fold must treat it as unpublished: refold, never delete the
    inputs on the strength of an uncommitted target."""
    from hiveka_spark.operators.similarity import compact_edge_cells

    clean = str(tmp_path / "clean")
    _write_edges(spark, os.path.join(clean, "edges"))
    crashed = str(tmp_path / "crashed")
    shutil.copytree(clean, crashed)

    compact_edge_cells(spark, os.path.join(clean, "edges"), [0, 1])
    want = _graph(spark, clean)

    cell = os.path.join(crashed, "edges", "hc0")
    shutil.copytree(os.path.join(cell, "b4"), os.path.join(cell, "c4"))
    os.remove(os.path.join(cell, "c4", "_SUCCESS"))
    compact_edge_cells(spark, os.path.join(crashed, "edges"), [0, 1])
    assert _graph(spark, crashed) == want


# ------------------------------------------------------ crash at every step
class _Crash(Exception):
    pass


class _Steps:
    """Counts the filesystem steps commit.py takes; raises at step ``at``."""

    def __init__(self, at: int | None = None) -> None:
        self.at, self.n = at, 0

    def wrap(self, fn):
        def step(*args, **kwargs):
            if self.n == self.at:
                raise _Crash(f"crash at step {self.n}: {fn.__name__}{args}")
            self.n += 1
            return fn(*args, **kwargs)

        return step


def _run(monkeypatch, act, at: int | None) -> int:
    """Run ``act`` with commit.py's steps counted (and crashing at ``at``);
    returns the number of steps taken before the end or the crash."""
    from hiveka_spark import commit

    steps = _Steps(at)
    fs_os = types.SimpleNamespace(**vars(os))
    for name in ("remove", "rename", "replace"):
        setattr(fs_os, name, steps.wrap(getattr(os, name)))
    fs_shutil = types.SimpleNamespace(**vars(shutil))
    fs_shutil.rmtree = steps.wrap(shutil.rmtree)
    with monkeypatch.context() as m:
        m.setattr(commit, "os", fs_os)
        m.setattr(commit, "shutil", fs_shutil)
        m.setattr(commit, "open", steps.wrap(open), raising=False)
        try:
            act()
        except _Crash:
            assert at is not None
    return steps.n


def _tree(root: str) -> list[tuple]:
    """Dirs and non-data files under ``root`` (data files have random
    names, their rows are compared separately)."""
    return sorted(
        (os.path.relpath(d, root), sorted(
            f for f in files if not f.startswith(("part-", ".part-"))
        ))
        for d, _, files in os.walk(root)
    )


def _live_rows(root: str) -> list[tuple]:
    """Rows of every live dir of a ``b``/``c`` store."""
    from hiveka_spark import commit

    rows = []
    for live in commit.live(root, 10**9):
        for d, _, files in os.walk(live):
            for f in files:
                if f.endswith(".parquet") and not f.startswith("."):
                    t = pq.read_table(os.path.join(d, f))
                    rows.extend(tuple(r.values()) for r in t.to_pylist())
    return sorted(rows)


def _fold_store(setup, act, roots):
    return setup, act, lambda state: [_live_rows(f"{state}/{r}") for r in roots]


def _band_index():
    # bands only: the shingle store's fold is the probe store's plain union
    def setup(spark, state):
        for v in (0, 1):
            _write(spark, f"{state}/bands/b{v}",
                   [(2 * v + d, b, 7 * d + b + v) for d in (0, 1) for b in (0, 1)],
                   "doc bigint, band int, bh bigint")

    def act(spark, state):
        from hiveka_spark.streaming.neardup import compact_band_index

        compact_band_index(spark, state)

    return _fold_store(setup, act, ["bands"])


def _window_counts():
    def setup(spark, state):
        for v in (0, 1):
            _write(spark, f"{state}/wc/b{v}", [(1, 1, v, 0), (2 + v, 2, v, 3)],
                   "h bigint, cnt bigint, first_doc bigint, first_pos int")

    def act(spark, state):
        from hiveka_spark.streaming.neardup import compact_window_counts

        compact_window_counts(spark, state)

    return _fold_store(setup, act, ["wc"])


def _probe_store():
    def setup(spark, state):
        for v in (2, 4):
            _write(spark, f"{state}/probes/b{v}", [(v, 0, 1), (v + 1, 1, 1)],
                   "query_id bigint, cell int, home int")

    def act(spark, state):
        from hiveka_spark.operators.similarity import compact_probe_store

        compact_probe_store(spark, f"{state}/probes")

    return _fold_store(setup, act, ["probes"])


def _edge_cells():
    def setup(spark, state):
        _write_edges(spark, f"{state}/edges")

    def act(spark, state):
        from hiveka_spark.operators.similarity import compact_edge_cells

        compact_edge_cells(spark, f"{state}/edges", [0, 1])

    return _fold_store(setup, act, ["edges/hc0", "edges/hc1"])


def _offset_store():
    from hiveka_spark.sources.kafka_io import OffsetStore

    return (
        lambda spark, state: OffsetStore(f"{state}/o.json").commit({"t": {"0": 5}}),
        lambda spark, state: OffsetStore(f"{state}/o.json").commit(
            {"t": {"0": 9, "1": 3}}
        ),
        lambda state: OffsetStore(f"{state}/o.json").load(),
    )


def _broker_meta():
    from hiveka_spark.sources.kafka_sim import SimBroker

    return (
        lambda spark, state: SimBroker(state).create_topic("t", partitions=2),
        lambda spark, state: SimBroker(state).expire("t", 1, 4),
        lambda state: (SimBroker(state).earliest(), SimBroker(state).latest()),
    )


def _schema_registry():
    from hiveka_spark.sources.schema_registry import FileSchemaRegistry

    def schema(name):
        return {"type": "record", "name": "r",
                "fields": [{"name": name, "type": "long"}]}

    return (
        lambda spark, state: FileSchemaRegistry(state).register("t", schema("a")),
        lambda spark, state: FileSchemaRegistry(state).register("t", schema("b")),
        lambda state: (FileSchemaRegistry(state).versions("t"),
                       FileSchemaRegistry(state).latest("t")),
    )


def _rows(paths: list[str]) -> list[tuple]:
    """Rows of the parquet dirs ``paths``."""
    return sorted(
        tuple(r.values())
        for p in paths
        for r in pq.read_table(p).to_pylist()
    )


def _upsert_sink():
    # the act replays batch 1 over a committed v1 that an earlier run of
    # it left behind: the replacement must not cost the committed version
    def sink(state):
        import pyspark.sql.functions as F

        from hiveka_spark.streaming.upsert import VersionedUpsertSink

        return VersionedUpsertSink(
            f"{state}/upsert",
            lambda df: df.groupBy("k").agg(F.sum("n").alias("n")),
            lambda prev, cur: prev.unionByName(cur).groupBy("k").agg(
                F.sum("n").alias("n")
            ),
        )

    def batch(spark, rows):
        return spark.createDataFrame(rows, "k bigint, n bigint").coalesce(1)

    def setup(spark, state):
        sink(state)(batch(spark, [(1, 1), (2, 1)]), 0)
        sink(state)(batch(spark, [(1, 5)]), 1)

    def act(spark, state):
        sink(state)(batch(spark, [(2, 7), (3, 1)]), 1)

    def read(state):
        latest = sink(state).latest_path()
        return os.path.relpath(latest, state), _rows([latest])

    return setup, act, read


def _band_index_step():
    # the act replays version 1 over a committed b1 that an earlier run of
    # it left behind: its sh and bands versions must not cost the committed
    # ones
    def step(spark, state, version, texts):
        from hiveka_spark import commit
        from hiveka_spark.streaming.neardup import band_index_step

        batch = spark.createDataFrame(
            [(10 * version + i, t) for i, t in enumerate(texts)],
            "doc_id bigint, text string",
        ).coalesce(1)
        band_index_step(
            batch, state, version,
            commit.committed(f"{state}/bands", version),
            commit.committed(f"{state}/sh", version),
            num_perm=4, bands=2, k=2, threshold=0.5,
        )

    def setup(spark, state):
        step(spark, state, 0, ["a b c d", "a b c e"])
        step(spark, state, 1, ["x y z", "a b c d"])

    def act(spark, state):
        step(spark, state, 1, ["p q r s", "a b c e f"])

    return setup, act, lambda state: [
        _live_rows(f"{state}/{r}") for r in ("sh", "bands")
    ]


def _ivf_segments():
    # the act replays segment v=1 over a committed copy of other vectors
    def frames(spark, ids):
        vecs = spark.createDataFrame(
            [(i, [1.0 + i % 3, 1.0 + i % 2]) for i in ids],
            "vec_id bigint, embedding array<float>",
        ).coalesce(1)
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell bigint, embedding array<float>"
        )
        return vecs, cents

    def update(spark, state, ids, version):
        from hiveka_spark.operators.similarity import ivf_index_update

        vecs, cents = frames(spark, ids)
        ivf_index_update(spark, vecs, f"{state}/ivf", version, cents)

    def setup(spark, state):
        update(spark, state, [1, 2], 0)
        update(spark, state, [3], 1)

    def read(state):
        from hiveka_spark.operators.similarity import ivf_index_segments

        return _rows(ivf_index_segments(f"{state}/ivf"))

    return setup, lambda spark, state: update(spark, state, [4, 5, 6], 1), read


def _knn_sink():
    # the act replays batch 1 (version 2 * 1 + 2 = 4) after an earlier run
    # of it committed b4 in both home cells.  The replay touches one cell:
    # every step costs a whole sink run, so fewer publishes keep it cheap
    def batch(spark, ids):
        return spark.createDataFrame(
            [(i, [1.0, 0.01 * i, 0.0, 0.0] if i < 10 else [0.0, 1.0, 0.01 * i, 0.0])
             for i in ids],
            "vec_id bigint, embedding array<float>",
        ).coalesce(1)

    def run(spark, state, ids, batch_id):
        from hiveka_spark.operators.similarity import make_knn_graph_sink

        cents = spark.createDataFrame(
            [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])],
            "cell bigint, embedding array<float>",
        )
        make_knn_graph_sink(state, cents, k=2, n_probe=1, dim=4)(
            batch(spark, ids), batch_id
        )

    def setup(spark, state):
        run(spark, state, [0, 1, 10], 0)
        run(spark, state, [2, 11], 1)

    def read(state):
        from pyspark.sql import SparkSession

        return _graph(SparkSession.getActiveSession(), state)

    return setup, lambda spark, state: run(spark, state, [12, 13], 1), read


def _tokenizer_save():
    # the act re-saves the artifact over the one the setup published: a
    # crash at any step must leave one whole artifact, old or new
    def save(merges):
        def run(spark, state):
            from hiveka_spark.operators.bpe import bpe_vocab, save_tokenizer

            vocab = bpe_vocab(merges, list("abc"))
            save_tokenizer(spark, f"{state}/tok", merges, vocab, byte_fallback=False)

        return run

    return (
        save([("a", "b")]),
        save([("a", "b"), ("ab", "c")]),
        lambda state: [_rows([f"{state}/tok/{t}"]) for t in ("meta", "merges", "vocab")],
    )


STORES = {
    "band_index": _band_index,
    "band_index_step": _band_index_step,
    "window_counts": _window_counts,
    "probe_store": _probe_store,
    "edge_cells": _edge_cells,
    "offset_store": _offset_store,
    "broker_meta": _broker_meta,
    "schema_registry": _schema_registry,
    "upsert_sink": _upsert_sink,
    "ivf_segments": _ivf_segments,
    "knn_sink": _knn_sink,
    "tokenizer_save": _tokenizer_save,
}


@pytest.mark.parametrize("store", sorted(STORES))
def test_crash_at_every_step_then_retry(spark, tmp_path, monkeypatch, store):
    setup, act, read = STORES[store]()

    def snapshot(state):
        return _tree(state), read(state)

    template = str(tmp_path / "template")
    os.makedirs(template)
    setup(spark, template)

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    n_steps = _run(monkeypatch, lambda: act(spark, clean), at=None)
    assert n_steps > 0
    want = snapshot(clean)
    assert want != snapshot(template), "the call must change the store"

    for i in range(n_steps):
        state = str(tmp_path / f"crash{i}")
        shutil.copytree(template, state)
        assert _run(monkeypatch, lambda: act(spark, state), at=i) == i
        act(spark, state)
        assert snapshot(state) == want, f"{store}: crash at step {i}"
