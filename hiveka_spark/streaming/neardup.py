"""Streaming MinHash near-dup dedup over a persisted band index.

The streaming twin of ``operators.dedup.minhash_lsh_pairs`` (see s19 in
queries/streaming_queries.py for the gate-entry framing).  Each
micro-batch:

1. computes MinHash band rows + shingle sets for ITS docs only,
2. writes them to per-batch versioned dirs (``bands/b{id}``, ``sh/b{id}``,
   published through :mod:`hiveka_spark.commit`, so a checkpoint-replayed
   batch replaces its own version whole),
3. probes the committed band index of all PRIOR batches for cross-batch
   candidates and self-joins for within-batch candidates,
4. Jaccard-verifies both against the accumulated shingle store, and
5. emits verified pairs to ``pairs/b{id}``.

Steps 1-4 are :func:`band_index_step`, shared with the live curation sink
(``streaming/curation.py``) and the batch incremental index
(``operators/incremental.py``).

Convergence contract (batch-split invariance): a pair (a, b) is
discovered exactly once — when the later doc arrives — so the union of
per-batch emissions equals the one-shot batch ``minhash_lsh_pairs``
result REGARDLESS of how the corpus is split into micro-batches.  The
s19 oracle checks one split against DuckDB; ``tests/test_streaming_
neardup.py`` checks several splits against the batch operator.

Scale shape: per batch one signature aggregate over the batch only (the
index is never recomputed), one (band, bh)-keyed equi-join against the
index.  The compacted segment is partitioned by ``bh_bucket`` so probes
prune to the batch's own buckets (:func:`read_bands`), and per-batch
dirs fold periodically (``compact_after``).  The remaining 100 TB knob:
relax the shingle-store verify to signature-estimated Jaccard if
exactness can be traded for state size.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from hiveka_spark import commit
from hiveka_spark.scratch import scratch_dir
from hiveka_spark.streaming.pipeline import drain_files


#: partition fan-out of the compacted band segment: c{top} is laid out as
#: bh_bucket=pmod(bh, N)/ dirs so a probe that knows its batch's buckets
#: prunes the committed index to matching directories before any read.
#: 64 keeps per-bucket files large at gate scale; at 100 TB raise it with
#: index size (it only changes the DIRECTORY fan-out, not results).
N_BH_BUCKETS = 64


def read_bands(
    s: SparkSession, dirs: list[str], bh_buckets: list[int] | None = None
) -> DataFrame:
    """Read band-index version dirs as one (doc, band, bh) frame.
    Per-batch ``b{id}`` deltas are flat parquet; compacted ``c{top}``
    segments are partitioned by ``bh_bucket`` — the two layouts cannot
    share one ``spark.read.parquet(*paths)`` call (partition discovery
    needs a uniform structure), so they read separately and union.
    With ``bh_buckets`` (the probing batch's own bucket set — at most
    :data:`N_BH_BUCKETS` values), the c-segment scan is PARTITION-PRUNED
    to matching directories (plan-asserted in
    tests/test_streaming_neardup.py) and the deltas take the equivalent
    row filter; without it, everything is read."""
    cs = [d for d in dirs if os.path.basename(d).startswith("c")]
    bs = [d for d in dirs if os.path.basename(d).startswith("b")]
    frames = []
    if bs:
        f = s.read.parquet(*bs)
        if bh_buckets is not None:
            f = f.filter(
                F.pmod(F.col("bh"), F.lit(N_BH_BUCKETS)).isin(bh_buckets)
            )
        frames.append(f.select("doc", "band", "bh"))
    if cs:
        f = s.read.parquet(*cs)
        if bh_buckets is not None:
            f = f.filter(F.col("bh_bucket").isin(bh_buckets))
        frames.append(f.select("doc", "band", "bh"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def band_index_step(
    batch: DataFrame,
    state_root: str,
    version: int,
    prior_bands: list[str],
    prior_sh: list[str],
    num_perm: int,
    bands: int,
    k: int,
    threshold: float,
) -> DataFrame:
    """Add the (doc_id, text) frame ``batch`` to the band index under
    ``state_root`` as version ``version`` and return its verified
    (id_a, id_b, jaccard) pairs: within the batch, and against the
    ``prior_bands`` index dirs, verified over the batch's shingles plus
    ``prior_sh``.

    The shingles are written once to ``sh/b{version}`` and the bands are
    derived from the read-back frame, so the batch is tokenized once and
    the parquet round trip doubles as the persist.  Both versions publish
    through :func:`hiveka_spark.commit.write_version`.  The batch's
    ``bh_bucket`` set rides the band write as an ``Observation``, so the
    probe prunes the committed index to those buckets (:func:`read_bands`)
    without a job of its own."""
    from hiveka_spark.operators import dedup as D

    s = batch.sparkSession
    sh_dir = os.path.join(state_root, "sh", f"b{version}")
    bands_dir = os.path.join(state_root, "bands", f"b{version}")
    commit.write_version(
        sh_dir,
        D._shingle_sets(batch, "doc_id", "text", k, reuse=False)
        .write.mode("overwrite").parquet,
    )
    rows = D.minhash_band_rows(
        None, num_perm=num_perm, bands=bands, shingle_df=s.read.parquet(sh_dir)
    )
    if prior_bands:
        obs = Observation()
        rows = rows.observe(
            obs,
            F.collect_set(F.pmod(F.col("bh"), F.lit(N_BH_BUCKETS))).alias("bk"),
        )
    commit.write_version(bands_dir, rows.write.mode("overwrite").parquet)
    cur = s.read.parquet(bands_dir)
    a = cur.select(F.col("doc").alias("id_a"), "band", "bh")
    b = cur.select(F.col("doc").alias("id_b"), "band", "bh")
    cand = a.join(b, ["band", "bh"]).filter(F.col("id_a") < F.col("id_b"))
    if prior_bands:
        idx = read_bands(s, prior_bands, bh_buckets=list(obs.get["bk"])).select(
            F.col("doc").alias("id_old"), "band", "bh"
        )
        new = cur.select(F.col("doc").alias("id_new"), "band", "bh")
        cross = (
            idx.join(new, ["band", "bh"])
            # a doc_id re-ingested in a later version matches its own index
            # rows: without this guard it would pair with itself (jaccard
            # 1.0), a pair the one-shot batch operator never produces
            .filter(F.col("id_old") != F.col("id_new"))
            .select(
                F.least("id_old", "id_new").alias("id_a"),
                F.greatest("id_old", "id_new").alias("id_b"),
            )
        )
        cand = cand.select("id_a", "id_b").unionByName(cross)
    cand = cand.select("id_a", "id_b").distinct()
    return D._verified_jaccard(cand, s.read.parquet(sh_dir, *prior_sh), threshold)


def committed_versions(root: str, before: int) -> list[str]:
    """Committed ``b{id}`` per-batch deltas and ``c{id}`` folded bases with
    id < ``before`` (:func:`hiveka_spark.commit.committed`).  A c-dir's id
    is the highest batch it holds, so the ``id < before`` probe guard
    applies to both kinds unchanged."""
    return commit.committed(root, before)


#: live window-count store dirs (:func:`hiveka_spark.commit.live`).  The wc
#: probe SUMS ``cnt``, so a window folded into a c-dir must never be read
#: again from its input: it would get pcnt=2 and the pcnt==1 retro rule in
#: :func:`make_substring_sink` would skip its stored first occurrence.
wc_committed_versions = commit.live


def compact_band_index(
    spark: SparkSession, state_root: str, before: int = 10**9
) -> None:
    """Fold the committed versions of the band index and the shingle store
    with id < ``before`` into one ``c{top}`` segment each
    (:func:`hiveka_spark.commit.fold`; in-stream callers pass ``before =
    current batch id``).

    The per-batch dirs grow without bound on a long-running ingest, and
    each new batch reads all of them, so the file listing and small files
    come to dominate the probe.  Index content is a set of per-doc rows,
    so the fold is a pure union and probe results are unchanged (pinned by
    tests/test_streaming_neardup.py::test_continuation_through_compaction).
    The bands fold is laid out partitioned by ``bh_bucket`` =
    pmod(bh, :data:`N_BH_BUCKETS`) so probes prune to matching
    directories (:func:`read_bands`).  Safe between batches of a live
    stream, because foreachBatch calls are serialized."""

    def bands(dirs: list[str], staged: str) -> None:
        read_bands(spark, dirs).withColumn(
            "bh_bucket", F.pmod(F.col("bh"), F.lit(N_BH_BUCKETS))
        ).write.mode("overwrite").partitionBy("bh_bucket").parquet(staged)

    def shingles(dirs: list[str], staged: str) -> None:
        spark.read.parquet(*dirs).write.mode("overwrite").parquet(staged)

    commit.fold(os.path.join(state_root, "bands"), before, bands)
    commit.fold(os.path.join(state_root, "sh"), before, shingles)


def stream_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    n_batches: int = 4,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
    state_root: str | None = None,
    id_offset: int = 0,
    compact_after: int | None = None,
) -> DataFrame:
    """Run ``docs`` (doc_id, text) through the streaming band-index dedup,
    written as ``n_batches`` files and drained one file per micro-batch
    (:func:`~hiveka_spark.streaming.pipeline.drain_files`); returns the
    distinct verified (id_a, id_b, jaccard) pair set — accumulated across
    ALL runs sharing ``state_root``, not just this one.  See module
    docstring.

    ``id_offset`` shifts this run's version-dir ids: a RESUMED stream
    (same checkpoint) continues Spark's batch ids automatically, but a
    NEW stream over newly landed files restarts at 0 — pass an offset
    above every existing version so the new run's state sorts after (and
    probes) the old corpus instead of overwriting it.  This is the
    multi-run ingest story: run -> compact_band_index -> run again.

    ``compact_after``: AUTO-compaction policy (the x70 batch index's knob
    on the streaming index): when set and the number of committed band
    versions reaches it at the end of a micro-batch, the bands+sh stores
    are folded into one ``c{top}`` segment before the next batch — safe
    mid-stream because foreachBatch calls are serialized and the
    compacted segment's name can never collide with a future batch id.
    A long-running ingest otherwise pays O(batches) version-dir listing
    on every probe forever; N bounds it at a constant.  The pairs store
    (pure emission log, never probed) stays per-batch."""
    src_dir = scratch_dir(prefix="sneardup_src_")
    state_root = state_root or scratch_dir(prefix="sneardup_state_")
    bands_root = os.path.join(state_root, "bands")
    sh_root = os.path.join(state_root, "sh")
    pairs_root = os.path.join(state_root, "pairs")
    # Collision guard: this run's versions (starting at id_offset) must
    # sort strictly after every existing committed version, or batch 0
    # would OVERWRITE the prior corpus's b0 state and silently corrupt
    # the accumulated pair set.  Cheap (one listdir per store), and it
    # turns the forgotten-id_offset mistake into an error.
    existing = [
        int(os.path.basename(d)[1:])
        for root in (bands_root, sh_root, pairs_root)
        for d in committed_versions(root, 10**9)
    ]
    if existing and id_offset <= max(existing):
        raise ValueError(
            f"state_root already holds versions up to b{max(existing)}; "
            f"pass id_offset > {max(existing)} to continue into it "
            "(or a fresh state_root)"
        )

    docs.select("doc_id", "text").repartition(n_batches).write.mode(
        "overwrite"
    ).parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_id = batch_id + id_offset
        pairs = band_index_step(
            batch_df, state_root, batch_id,
            committed_versions(bands_root, batch_id),
            committed_versions(sh_root, batch_id),
            num_perm, bands, k, threshold,
        )
        commit.write_version(
            os.path.join(pairs_root, f"b{batch_id}"),
            pairs.write.mode("overwrite").parquet,
        )
        if (
            compact_after is not None
            and len(committed_versions(bands_root, 10**9)) >= compact_after
        ):
            # before=batch_id: the replay rule of hiveka_spark.commit
            compact_band_index(batch_df.sparkSession, state_root, before=batch_id)

    drain_files(spark, src_dir, sink, scratch_dir(prefix="ckpt_sneardup_"))
    emitted = committed_versions(pairs_root, 10**9)
    assert emitted, "no micro-batch emitted pairs output"
    return spark.read.parquet(*emitted).distinct()


# ---------------------------------------------------------------------------
# Streaming SUBSTRING dedup over a persisted window-count store (gate s30) —
# the live arm of x96/x99, completing the live x incremental matrix for the
# substring family.
# ---------------------------------------------------------------------------


def make_substring_sink(state_root: str, min_len: int = 10,
                        compact_after: int | None = None):
    """foreachBatch sink for :func:`stream_substring_dedup` — exposed so
    the kill-and-resume test can wrap it (the s23 _CrashBefore pattern).

    Store layout (the s16/s19 versioned-dir discipline, every version
    published through :mod:`hiveka_spark.commit` so checkpoint replay is
    idempotent):

    - ``wc/b{id}``: this batch's window-count segment — per distinct
      window hash (h, cnt, first_doc, first_pos).  The (doc, pos0) of the
      FIRST occurrence rides the 16-byte count row precisely so a later
      copy can RETRO-emit it: when a window's accumulated prior count is
      exactly 1 and this batch brings another copy, the single earlier
      occurrence becomes duplicated NOW and is emitted from the store —
      without it, convergence to the one-shot x96 answer would be
      impossible without re-reading old text (which this store exists to
      avoid; x99's no-reprocess contract).
    - ``starts/b{id}``: this batch's emitted duplicated-window starts
      (doc, pos0).

    Emission rule per batch (the occurrence-level analog of s19's
    "a pair is discovered when the later doc arrives"):
    1. every occurrence IN this batch of a window whose batch+prior
       count >= 2, plus
    2. the stored first occurrence of every window with prior count
       EXACTLY 1 that this batch touches (prior >= 2 means those
       occurrences were already emitted by earlier batches).
    Together: every occurrence of every globally duplicated window is
    emitted exactly once by the time the last batch commits, for ANY
    split of the corpus into micro-batches."""
    from hiveka_spark.operators.dedup import _window_occurrences

    wc_root = os.path.join(state_root, "wc")
    starts_root = os.path.join(state_root, "starts")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        # checkpoint=True: the batch is tokenized ONCE; the segment write
        # and the starts probe both read the materialized frame
        _sizes, occ = _window_occurrences(
            batch_df, "text", "doc_id", min_len, checkpoint=True
        )
        own_dir = os.path.join(wc_root, f"b{batch_id}")
        commit.write_version(
            own_dir,
            occ.groupBy("h").agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.min(F.struct("doc", "pos0")).alias("first"),
            ).select(
                "h", "cnt",
                F.col("first.doc").alias("first_doc"),
                F.col("first.pos0").alias("first_pos"),
            ).write.mode("overwrite").parquet,
        )
        own = s.read.parquet(own_dir)

        prior_dirs = wc_committed_versions(wc_root, batch_id)
        if prior_dirs:
            prior = (
                s.read.parquet(*prior_dirs)
                .groupBy("h")
                .agg(
                    F.sum("cnt").cast("bigint").alias("pcnt"),
                    F.min(
                        F.struct(
                            F.col("first_doc").alias("doc"),
                            F.col("first_pos").alias("pos0"),
                        )
                    ).alias("pfirst"),
                )
            )
            j = own.join(prior, "h", "left")
            duph = j.filter(
                F.col("cnt") + F.coalesce("pcnt", F.lit(0)) >= 2
            ).select("h", "pcnt", "pfirst")
            new_starts = occ.join(duph.select("h"), "h").select("doc", "pos0")
            retro = duph.filter(F.col("pcnt") == 1).select(
                F.col("pfirst.doc").alias("doc"),
                F.col("pfirst.pos0").alias("pos0"),
            )
            starts_out = new_starts.unionByName(retro)
        else:
            duph0 = own.filter(F.col("cnt") >= 2).select("h")
            starts_out = occ.join(duph0, "h").select("doc", "pos0")
        commit.write_version(
            os.path.join(starts_root, f"b{batch_id}"),
            starts_out.distinct().write.mode("overwrite").parquet,
        )
        # trigger on COMMITTED dirs, not the shadowed live view: after a
        # crashed fold the live count collapses to 1 while the folded
        # b-dirs still sit on disk, and the fold pass is also what
        # finishes those deletes — it must keep firing until the listing
        # is actually bounded again (make_ivf_stream_sink's rule)
        if (
            compact_after is not None
            and len(committed_versions(wc_root, 10**9)) >= compact_after
        ):
            # before=batch_id: the replay rule of hiveka_spark.commit
            compact_window_counts(s, state_root, before=batch_id)

    return sink


def stream_substring_dedup(
    spark: SparkSession,
    docs: DataFrame | None,
    n_batches: int = 4,
    min_len: int = 10,
    state_root: str | None = None,
    src_dir: str | None = None,
    checkpoint_dir: str | None = None,
    sink_fn=None,
    compact_after: int | None = None,
) -> DataFrame:
    """Run ``docs`` (doc_id, text) through the streaming window-count
    substring dedup, written as ``n_batches`` files and drained one file
    per micro-batch (:func:`~hiveka_spark.streaming.pipeline.drain_files`),
    and return the CONVERGED per-doc duplicated-span report — (doc_id,
    n_words, n_dup_spans, dup_words, dup_frac_q), equal to the one-shot
    :func:`~hiveka_spark.operators.dedup.substring_dup_spans` over the
    whole corpus for any batch split (gate s30's oracle pins one split
    against x96's DuckDB replay; the tests pin several splits against the
    batch operator and kill-and-resume).

    ``docs=None`` RESUMES on existing ``src_dir``/``checkpoint_dir``
    without rewriting the source (rewriting would mint new file names and
    desync the checkpoint's seen-file log).

    Scale shape per batch: one Lx window pass over the BATCH only, one
    map-side-combinable count aggregate persisted as the batch's 16-byte-
    row segment, one hash-keyed probe of the accumulated store, and the
    final report's island merge runs once per doc at read time.  Old text
    is never re-read — the retro emission rides the store's stored first
    occurrence.  Segment folding at long horizons is the same c-dir
    compaction recipe as the band index."""
    from hiveka_spark.operators.dedup import _dup_span_stats, _window_occurrences

    src_dir = src_dir or scratch_dir(prefix="ssubstr_src_")
    state_root = state_root or scratch_dir(prefix="ssubstr_state_")
    checkpoint_dir = checkpoint_dir or scratch_dir(prefix="ckpt_ssubstr_")
    if docs is not None:
        docs.select("doc_id", "text").repartition(n_batches).write.mode(
            "overwrite"
        ).parquet(src_dir)
    sink = sink_fn or make_substring_sink(state_root, min_len,
                                          compact_after=compact_after)
    drain_files(spark, src_dir, sink, checkpoint_dir)
    emitted = committed_versions(os.path.join(state_root, "starts"), 10**9)
    assert emitted, "no micro-batch emitted starts output"
    starts = spark.read.parquet(*emitted).distinct()
    sizes, _occ = _window_occurrences(
        spark.read.parquet(src_dir), "text", "doc_id", min_len
    )
    return _dup_span_stats(sizes, starts, min_len, "doc_id")


def compact_window_counts(
    spark: SparkSession, state_root: str, before: int = 10**9
) -> None:
    """Fold committed window-count segments (``wc/b{id}``, id < before)
    into one ``c{top}`` segment (:func:`hiveka_spark.commit.fold`).  The
    fold aggregates per window hash (cnt = segment sum, first = min
    (doc, pos) struct) instead of unioning, so the store stays one row
    per distinct window.  Probe semantics are unchanged because the probe
    already computes this aggregate over segment rows (pinned by
    tests/test_streaming_neardup.py)."""

    def aggregate(dirs: list[str], staged: str) -> None:
        (
            spark.read.parquet(*dirs)
            .groupBy("h")
            .agg(
                F.sum("cnt").cast("bigint").alias("cnt"),
                F.min(
                    F.struct(
                        F.col("first_doc").alias("doc"),
                        F.col("first_pos").alias("pos0"),
                    )
                ).alias("first"),
            )
            .select(
                "h", "cnt",
                F.col("first.doc").alias("first_doc"),
                F.col("first.pos0").alias("first_pos"),
            )
            .write.mode("overwrite")
            .parquet(staged)
        )

    commit.fold(os.path.join(state_root, "wc"), before, aggregate)
