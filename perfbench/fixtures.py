"""The benchmark's inputs: the sf0.1 fixture tables, with seeded arrival.

``fixtures/`` holds unmodified copies of the repository's sf0.1 test
tables ``events`` (100,000 rows), ``documents`` (5,000) and ``customer``
(15,000), the seed-42 synthetic set described in ``FIXTURES.md`` section B;
their SHA-256 digests are checked on load.  The rows are never altered or
invented.  The run's seed picks only where the data arrives from:

- ``events_window``: ``n`` consecutive records of ``events`` (in event-time
  order, as the topic would carry them) from a seeded start.  ``ts`` is
  carried as ``ts_us``, its exact epoch microseconds as BIGINT: the Python
  Avro codec cannot encode a TIMESTAMP payload column (see
  ``timestamp_encode_fault``), so the fixture's own column type cannot be
  produced into a topic.
- ``documents_chunks``: the arrival order of the training documents and
  so the micro-batch (``chunk``) each lands in.  The eval split is source
  ``EVAL_SOURCE`` (chunk -1, never streamed).  The fixture's near-duplicates
  are a document's text plus the word ``dup``; each one arrives a seeded
  0 to ``chunk_size`` positions after the document it copies, so a pair
  meets in the same micro-batch or the next one, and every chunk holds
  the fixture's stage mix.  ``doc_id`` keeps the fixture's values, so a
  copy with the smaller id that arrives a chunk later retracts the
  document produced before it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SHA256 = {
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
}
EVAL_SOURCE = "src0"  # the decontamination eval split (one of the fixture's 20 sources)
DUP_SUFFIX = " dup"


def path(name: str) -> str:
    """Path of a fixture table, after checking it is the unmodified copy."""
    p = os.path.join(DIR, f"{name}.parquet")
    with open(p, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    if digest != SHA256[name]:
        raise ValueError(f"{p}: SHA-256 {digest} is not the sf0.1 fixture's")
    return p


def events_window(n: int, seed: int) -> pa.Table:
    ev = pq.read_table(path("events"))
    start = int(np.random.default_rng([seed, 1]).integers(0, ev.num_rows - n + 1))
    ev = ev.sort_by("ts").slice(start, n).replace_schema_metadata(None)
    ts_us = pc.cast(pc.cast(ev["ts"], pa.timestamp("us")), pa.int64())
    return ev.set_column(ev.schema.get_field_index("ts"), "ts_us", ts_us)


def documents_chunks(seed: int, chunk_size: int) -> pa.Table:
    """The documents with ``pos`` (arrival position, -1 for the eval split)
    and ``chunk`` (``pos // chunk_size``, -1 for the eval split)."""
    docs = pq.read_table(path("documents")).replace_schema_metadata(None)
    texts = docs["text"].to_pylist()
    train = [s != EVAL_SOURCE for s in docs["source"].to_pylist()]
    rng = np.random.default_rng([seed, 3])
    base = rng.uniform(0, len(texts), len(texts))
    lag = rng.uniform(0, chunk_size, len(texts))
    first = {}
    for i, t in enumerate(texts):
        if train[i]:
            first.setdefault(t, i)

    def key(i: int) -> float:
        # a copy arrives after the document it copies (chains of copies too)
        orig = first.get(texts[i][: -len(DUP_SUFFIX)]) if texts[i].endswith(DUP_SUFFIX) else None
        return base[i] if orig is None else key(orig) + lag[i]

    order = sorted((i for i in range(len(texts)) if train[i]), key=key)
    pos = np.full(len(texts), -1, np.int64)
    pos[order] = np.arange(len(order))
    chunk = np.where(pos >= 0, pos // chunk_size, -1)
    return docs.append_column("pos", pa.array(pos)).append_column("chunk", pa.array(chunk))


def write(table: pa.Table, dest: str) -> str:
    pq.write_table(table, dest)
    return dest
