"""Batch incremental MinHash dedup across corpus versions.

The production pattern for a GROWING corpus: v1 was deduped last month;
v2 lands today.  Re-running the one-shot pair finder (x03) over v1 ∪ v2
re-tokenizes, re-hashes, and re-joins the entire history every release —
at 100 TB the old corpus dominates and that cost is almost all waste.
This module composes the streaming band index's state layout (s19,
``streaming/neardup.py``) with the batch pair finder: each corpus version
appends its shingle sets and LSH band rows to a persisted index, and new
pairs are found by (a) a self-join within the new version and (b) an
equi-join of the new version's band rows against the PERSISTED index —
the old corpus's text is never re-read, never re-shingled, never
re-hashed.  Invariant (oracle-checked by gate x70 and property-tested):
the accumulated pair set equals the one-shot batch answer over the union.

State layout: ``state_root/{sh,bands,pairs}/b{version}`` parquet dirs,
committed per :mod:`hiveka_spark.commit`, priors re-derived from disk.
Version ids must increase; a stale or repeated version id is an error
(the neardup id_offset guard).  The
stored state holds shingle ARRAYS and band hashes only — no text column
exists anywhere in the index, which is the structural proof that old
text cannot be re-processed.

Scale shape per update: one shingle+signature pass over the NEW docs
only; one (band, bh)-keyed equi-join of new band rows against the index
(bucket-local, the only join touching old state); Jaccard verification
reads only candidate docs' shingle rows.  Index growth is linear in
corpus size; compaction (``streaming.neardup.compact_band_index``) folds
old versions together when the dir count matters.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hiveka_spark import commit
from hiveka_spark.streaming.neardup import band_index_step


_STORES = ("sh", "bands", "pairs")


def _store_versions(state_root: str, store: str) -> set[int]:
    return {
        commit.version_id(p)
        for p in commit.committed(os.path.join(state_root, store))
    }


def complete_versions(state_root: str) -> list[int]:
    """Versions committed in ALL THREE stores — the only ones that count.

    The three per-version writes are not atomic; ``pairs`` is written LAST,
    so a crash mid-update leaves a PARTIAL version (e.g. bands committed,
    pairs missing).  Treating a partial version as present would both block
    its retry and silently drop its pairs from every future accumulated
    answer — so partial versions are invisible here (never probed as
    priors, never returned) and retryable (the same version id may be
    re-ingested; every store write publishes through
    :mod:`hiveka_spark.commit`, which replaces the partial dir whole)."""
    return sorted(set.intersection(*[_store_versions(state_root, s) for s in _STORES]))


def _check_manifest(state_root: str, params: dict) -> None:
    """Pin the MinHash parameters to the index: signatures/bands/shingles
    built with different (num_perm, bands, k) are incomparable — the
    (band, bh) probe would silently match nothing across versions.  First
    update writes the manifest; later updates must match it exactly."""
    import json

    path = os.path.join(state_root, "manifest.json")
    if os.path.exists(path):
        with open(path) as fh:
            existing = json.load(fh)
        if existing != params:
            raise ValueError(
                f"index at {state_root!r} was built with {existing}; this "
                f"update passed {params} — band hashes and shingle sets "
                "would be incomparable across versions (use a fresh "
                "state_root to change parameters)"
            )
    else:
        os.makedirs(state_root, exist_ok=True)
        commit.write_json(path, params)


def compact_minhash_index(spark: SparkSession, state_root: str) -> int | None:
    """Fold every COMPLETE version of the batch index into one new version
    across ALL THREE stores, then delete the rest.  Returns the new
    version id, or None when nothing needed compacting.

    The streaming ``compact_band_index`` handles only sh+bands — applied
    to THIS index it would orphan the pairs store (no version present in
    all three stores, so ``complete_versions`` goes empty and the
    accumulated answer silently vanishes).  This variant keeps the
    three-store rule:

    - the new id is max(any id in ANY store) + 1, so it never names a
      committed dir;
    - stores publish (:func:`hiveka_spark.commit.publish`) in the ingest
      order (sh, bands, PAIRS LAST): a crash before the pairs publish
      leaves the new id partial — invisible to ``complete_versions`` —
      with every old dir intact, and a compaction retry simply picks the
      next id;
    - old dirs (and any stale partials) are deleted only after all three
      publishes; a crash mid-delete leaves duplicate index rows, which
      every consumer tolerates (candidates/pairs ``.distinct()``, verify
      joins recompute identical jaccards).

    Same concurrency rule as the streaming compactor: run BETWEEN
    updates, never concurrently with one.  After compaction the next
    ingest must use a version id above the returned one (the normal
    monotone-version guard enforces this)."""
    complete = complete_versions(state_root)
    if len(complete) <= 1:
        return None
    all_ids = set().union(*[_store_versions(state_root, s) for s in _STORES])
    new_id = max(all_ids) + 1
    keep = set(complete)
    for store in _STORES:  # ("sh", "bands", "pairs") — pairs last
        root = os.path.join(state_root, store)
        dirs = [p for p in commit.committed(root) if commit.version_id(p) in keep]
        commit.write_version(
            os.path.join(root, f"b{new_id}"),
            spark.read.parquet(*dirs).write.mode("overwrite").parquet,
        )
    for store in _STORES:
        root = os.path.join(state_root, store)
        for n in os.listdir(root):
            if n.startswith("b") and n[1:].isdigit() and int(n[1:]) != new_id:
                commit.remove(os.path.join(root, n))
    return new_id


def minhash_index_update(
    spark: SparkSession,
    docs: DataFrame,
    state_root: str,
    version: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
    compact_after: int | None = None,
) -> DataFrame:
    """Add corpus ``version`` to the persisted MinHash index; return the
    ACCUMULATED verified near-dup pair set (id_a, id_b, jaccard) over every
    version ingested so far.  ``docs`` must contain ONLY the new version's
    documents (ids globally unique across versions — re-ingesting an id
    would pair it with itself; the cross probe filters the degenerate
    self-pair like streaming/neardup.py does).

    ``compact_after``: auto-compaction policy — when set and the number of
    COMPLETE versions reaches it after this update, the three stores are
    folded into one version (:func:`compact_minhash_index`) before the
    accumulated answer is assembled.  Per-version dirs are what every
    future update file-lists and probes, so without a bound a
    daily-ingest index pays O(versions) listing overhead forever; N
    bounds it at a constant."""
    _check_manifest(
        state_root,
        {"num_perm": num_perm, "bands": bands, "k": k, "threshold": threshold},
    )
    complete = complete_versions(state_root)
    if complete and version <= max(complete):
        raise ValueError(
            f"index already holds version b{max(complete)}; pass a version "
            f"> {max(complete)} (or a fresh state_root).  A PARTIAL version "
            "(crashed mid-update) does not count and may be re-ingested "
            "under its own id."
        )
    pairs_root = os.path.join(state_root, "pairs")

    # the new docs are shingled and banded once and probe the persisted
    # index; priors are COMPLETE versions only (see complete_versions): a
    # partial version's bands must not be probed, its pairs were never
    # emitted.  Old text never re-enters: verification reads the shingle
    # store.
    def priors(store: str) -> list[str]:
        return [
            p for p in commit.committed(os.path.join(state_root, store), version)
            if commit.version_id(p) in complete
        ]

    batch = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    pairs = band_index_step(
        batch, state_root, version, priors("bands"), priors("sh"),
        num_perm, bands, k, threshold,
    )
    commit.write_version(
        os.path.join(pairs_root, f"b{version}"),
        pairs.write.mode("overwrite").parquet,
    )

    # auto-compaction: this version is complete (its pairs write just
    # committed), so the fold is between-updates by construction
    if compact_after is not None and len(complete_versions(state_root)) >= compact_after:
        compact_minhash_index(spark, state_root)

    # accumulated answer across every COMPLETE version
    done = set(complete_versions(state_root))
    return (
        spark.read.parquet(
            *[p for p in commit.committed(pairs_root) if commit.version_id(p) in done]
        )
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental SUBSTRING dedup (the x70 posture for the x96 window family):
# a new corpus version's duplicated-span report against EVERYTHING ingested
# so far, without ever re-reading old text — prior versions exist only as a
# persisted (window-hash, count) store.
# ---------------------------------------------------------------------------


def substring_index_update(
    spark: SparkSession,
    docs: DataFrame,
    state_root: str,
    version: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
) -> DataFrame:
    """Ingest corpus ``version`` into the persisted window-count store and
    return ITS docs' duplicated-span report — per doc (n_words,
    n_dup_spans, dup_words, dup_frac_q), where a window is duplicated iff
    its occurrence count across THIS version plus every prior committed
    version is >= 2 (exactly the one-shot :func:`~hiveka_spark.operators.
    dedup.substring_dup_spans` rule over the union — gate x99's oracle
    pins the equality).  ``docs`` must contain only the new version's
    documents.

    The production question this answers at 100 TB: "how much of this
    1 TB drop is copies of text we already hold?" — without re-reading,
    re-tokenizing, or re-hashing the 100 TB (the store carries 16-byte
    (hash, count) rows, no text column anywhere — the same structural
    no-reprocess proof as the MinHash index above).

    Scale shape per update: one window pass over the NEW docs only (Lx
    map-only explode), one map-side-combinable count aggregate persisted
    as this version's store segment, one hash-keyed equi-join of the new
    version's distinct hashes against the prior segments' summed counts,
    and the per-doc island merge.  Store growth is linear in distinct
    windows; segments fold like the band index (read-side SUM — a
    compaction pass folding b-dirs is the same
    ``streaming.neardup.compact_band_index`` recipe when dir counts
    matter)."""
    from hiveka_spark.operators.dedup import _dup_span_stats, _window_occurrences

    wc_root = os.path.join(state_root, "wc")
    complete = commit.committed(wc_root)
    top = max(map(commit.version_id, complete), default=-1)
    if version <= top:
        raise ValueError(
            f"window-count store already holds version b{top}; pass a "
            "higher version (or a fresh state_root)"
        )

    # checkpoint=True: the combined (doc, n_words, windows) frame is
    # materialized once, so the segment write, the starts probe, AND the
    # final report join all read it — the new version's text is tokenized
    # exactly once per update (bounded: Lx the new version's word count —
    # never the corpus)
    sizes, occ = _window_occurrences(
        docs, text_col, id_col, min_len, checkpoint=True
    )
    # this version's segment: written once, then re-read from disk so the
    # probe below runs off the index — the same no-recompute rule future
    # versions get
    own_dir = os.path.join(wc_root, f"b{version}")
    commit.write_version(
        own_dir,
        occ.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .write.mode("overwrite").parquet,
    )
    own = spark.read.parquet(own_dir)

    if complete:
        prior = (
            spark.read.parquet(*complete)
            .groupBy("h")
            .agg(F.sum("cnt").cast("bigint").alias("prior_cnt"))
        )
        total = own.join(prior, "h", "left").select(
            "h",
            (F.col("cnt") + F.coalesce("prior_cnt", F.lit(0))).alias("total"),
        )
    else:
        total = own.select("h", F.col("cnt").alias("total"))
    dup_h = total.filter(F.col("total") >= 2).select("h")

    starts = occ.join(dup_h, "h").select("doc", "pos0")
    return _dup_span_stats(sizes, starts, min_len, id_col)
