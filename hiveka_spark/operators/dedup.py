"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the 100 TB contract):
- Exact dedup is a single hash-aggregate on the dedup key — one shuffle,
  map-side partial aggregation, no data skew beyond the key distribution.
- N-gram Jaccard is exact but candidate generation is prefix-filtered
  (AllPairs/PPJoin-style: global rarity order, index only the first
  n - ceil(t*n) + 1 shingles per doc, plus the |A|/|B| length filter) so
  posting lists stay rare-shingle-sized instead of exploding on hot
  shingles; the probabilistic scale path is MinHash+LSH banding where
  the shuffle key is (band_id, band_hash) so candidate generation is a
  self-equi-join on bucket keys — never an all-pairs product.  Both paths
  verify candidates with an array_intersect Jaccard on the candidate set
  only (|candidates| joins, never all pairs).
- All hashing is the md5-derived portable_hash60 (JVM built-in, codegen'd) —
  deterministic across runs, executors, AND engines, so every probabilistic
  dedup entry carries a full DuckDB oracle; no Python in the hot path.
- Arithmetic stays within bigint under ANSI mode: hash values are reduced
  mod MERSENNE31 before affine permutation, so a*h+b < 2^62.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from hiveka_spark.operators.text import tokens, tokens_sql
from hiveka_spark.sqlexpr import bigint_array_lit, qident

MERSENNE31 = 2147483647  # 2^31 - 1

# ---------------------------------------------------------------------------
# cache lifecycle
# ---------------------------------------------------------------------------
#
# Multi-pass dedup operators persist intermediates (shingle sets, verified
# pair sets) MEMORY_AND_DISK.  Spark's CacheManager keys entries on the
# canonicalized plan so repeated calls share one entry — fine for a gate run,
# but a LONG-LIVED session (notebook, streaming driver, multi-corpus
# pipeline) would accumulate one entry per distinct input until session end.
# `dedup_cache_scope()` gives callers ownership of that lifecycle: every
# frame persisted by dedup operators inside the scope is unpersisted on exit.

_CACHE_SCOPES: list[list[DataFrame]] = []


@contextlib.contextmanager
def dedup_cache_scope() -> Iterator[list[DataFrame]]:
    """Scope the MEMORY_AND_DISK persists created by dedup operators.

    with dedup_cache_scope():
        pairs = ngram_jaccard_pairs(docs, ...)
        pairs.count()            # caches live here, reused across passes
    # scope exit: every tracked frame is unpersisted (blocking=False)

    Scopes nest (inner scope owns only its own persists).  Yields the live
    list of tracked frames, mainly for tests/diagnostics."""
    frames: list[DataFrame] = []
    _CACHE_SCOPES.append(frames)
    try:
        yield frames
    finally:
        _CACHE_SCOPES.pop()
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass  # session may already be stopped — nothing to free


def _persist_tracked(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register with the innermost active
    dedup_cache_scope (no-op registration outside any scope — the
    CacheManager-dedupe behavior documented in _shingle_sets still applies)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if _CACHE_SCOPES:
        _CACHE_SCOPES[-1].append(df)
    return df


def portable_hash60(col: Column | str) -> Column:
    """60-bit hash from the first 15 hex chars of md5 — bit-identical in
    Spark (conv/md5), DuckDB (CAST('0x'||substring(md5(s),1,15) AS BIGINT)),
    and Python (int(hashlib.md5(s).hexdigest()[:15], 16)).  Engine-portable
    hashing is what lets MinHash/SimHash/LSH entries carry a full SQL oracle
    instead of a rows-only check; md5 is JVM codegen'd, so the hot path stays
    off Python.  Non-string inputs are hashed via their canonical string form
    (DuckDB twin: md5(CAST(x AS VARCHAR)))."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def portable_hash60_sql(expr: str) -> str:
    """The DuckDB-side twin of portable_hash60 (same value, same type)."""
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Group identical keys; keep the minimum id as canonical.

    Returns one row per distinct key group: key columns + ``canonical_id`` +
    ``copies``.  Equivalent semantics to dropDuplicates(key_cols) but also
    reports group sizes (what a pipeline needs for dedup-rate metrics).
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("copies"),
    )


def ngrams_from_tokens_sql(ws: str, k: int = 3) -> str:
    """SQL text of :func:`ngrams_from_tokens` over a token-array expression
    given as SQL."""
    n = f"greatest(size({ws}), 1)"
    # acc[i] = ws[i] + ' ' + ws[i+1] + ... ; zip_with pads the shorter side
    # with NULL and concat propagates it, so trailing partial grams become
    # NULL and are filtered out, leaving exactly n-k+1 grams; a doc shorter
    # than k is one gram of the whole text
    acc = ws
    for j in range(1, k):
        acc = (
            f"zip_with({acc}, slice({ws}, {j + 1}, {n}), "
            "(x, y) -> concat(x, ' ', y))"
        )
    return (
        f"CASE WHEN size({ws}) >= {k} THEN filter({acc}, g -> g IS NOT NULL) "
        f"ELSE array(concat_ws(' ', {ws})) END"
    )


def ngrams_from_tokens(ws: str, k: int = 3) -> Column:
    """Word k-grams (duplicates kept, document order) of the token-array
    column ``ws`` (JVM-side).

    Built with zip_with over shifted slices, NOT transform(sequence, i ->
    element_at(ws, i+j)): a lambda that captures `ws` embeds the whole
    subtree, which Spark re-evaluates PER ELEMENT (k x n_tokens evaluations
    per row).  zip_with arguments are plain row-level expressions, evaluated
    once per row — ~30x faster on real documents.

    ``ws`` is a column NAME, not the tokenizer expression itself: Spark
    does no common-subexpression elimination across the ~2k+1 references
    this builder makes, so an inline split/lower/filter subtree would run
    2k+1 times per row (~3x slower end-to-end at k=3).  word_ngrams()/
    word_shingles() below exist for single-shot convenience; multi-pass
    operators project tokens first (see _shingle_sets).
    """
    return F.expr(ngrams_from_tokens_sql(qident(ws), k))


def word_ngrams(text_col: str, k: int = 3) -> Column:
    """Word k-grams of lowercased text in column ``text_col``, duplicates
    kept (JVM-side)."""
    return F.expr(ngrams_from_tokens_sql(tokens_sql(qident(text_col)), k))


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of lowercased text (JVM-side)."""
    return F.array_distinct(word_ngrams(text_col, k))


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int, reuse: bool = True
) -> DataFrame:
    """(doc, sh: array<string>) — one row per doc, distinct shingles.

    Every dedup algorithm here is multi-pass over this frame (doc-frequency
    index / prefix ranking / minhash signatures, plus both verify sides), so
    with ``reuse`` the frame is persisted MEMORY_AND_DISK: the tokenizer runs
    once and all passes read the materialized shingle sets — the standard
    production trade for a 3-pass algorithm at 100 TB (shingle sets are ~the
    size of the text; recomputing tokenization 3-4x costs more than spilling
    them).  Spark's CacheManager keys the cache on the canonicalized plan, so
    repeated calls with the same inputs share ONE cache entry rather than
    accumulating copies.  The repartition by doc additionally means doc-keyed
    aggregations/windows/joins downstream inherit the partitioning (no extra
    shuffle)."""
    # two-step projection: tokenize ONCE into a column, then shingle off the
    # column reference (see ngrams_from_tokens: no CSE across HOF references)
    toks = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("ws")
    )
    sets = toks.select(
        "doc", F.array_distinct(ngrams_from_tokens("ws", k)).alias("sh")
    )
    sets = sets.repartition(F.col("doc"))
    if reuse:
        sets = _persist_tracked(sets)
    return sets


def _verified_jaccard(cand: DataFrame, sh_df: DataFrame, threshold: float) -> DataFrame:
    """Exact (floor-quantized) Jaccard for candidate (id_a, id_b) pairs by
    joining each side to its shingle array — cost is O(|candidates|), never
    all-pairs.  Quantization is floor(x*1e4)/1e4: engine-independent, and only
    ever lowers a value, so filtering quantized >= t keeps raw >= t exact."""
    a = sh_df.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_df.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = i * 1.0 / (F.size("sh_a") + F.size("sh_b") - i)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.floor(jac * 10000.0) / 10000.0)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_candidates(sh_df: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered candidate pairs from a (doc, sh) frame.

    Shingles are globally ordered by (document frequency, shingle) ascending;
    a doc with n shingles indexes only its first n - ceil(t*n) + 1 (rarest)
    shingles, so HOT shingles — which sort last — never enter short posting
    lists; dfreq==1 shingles can never pair two docs and are dropped after
    ranking.  Factored out of :func:`ngram_jaccard_pairs` so the adversarial
    skew tests can assert the candidate count directly (a planted
    50%-hot shingle must contribute ZERO candidates)."""
    from pyspark.sql import Window

    sh = sh_df.select("doc", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc").orderBy("dfreq", "s")
    # -1e-9: ceil must not round UP on float error (0.8*5 -> 4.0000...2) —
    # erring low only lengthens the prefix (superset of candidates, still exact)
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - 1e-9) + 1
    prefix = (
        sh.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        # dfreq==1 shingles occur in exactly one doc — their posting list can
        # never pair two docs, so dropping them AFTER ranking is lossless and
        # prunes the long-tail majority of the self-join input.
        .filter(F.col("dfreq") > 1)
        .select("doc", "s", "n")
    )
    a = prefix.select(F.col("doc").alias("id_a"), "s", F.col("n").alias("na"))
    b = prefix.select(F.col("doc").alias("id_b"), "s", F.col("n").alias("nb"))
    return (
        a.join(b, ["s"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t <= |A|/|B| <= 1/t (float-safe slack)
            & (F.col("na") * threshold - 1e-9 <= F.col("nb"))
            & (F.col("nb") * threshold - 1e-9 <= F.col("na"))
        )
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    reuse: bool = True,
) -> DataFrame:
    """EXACT pairwise Jaccard >= threshold over word k-gram shingle sets,
    with AllPairs/PPJoin-style prefix filtering.  Output: id_a < id_b, jaccard.

    Candidate generation: shingles are globally ordered by (document
    frequency, shingle) ascending; a doc with n shingles indexes only its
    first n - ceil(t*n) + 1 (rarest) shingles.  Any pair with J >= t shares
    an indexed shingle (since J >= t and the length filter |B| >= t|A| give
    overlap >= ceil(t*n) on each side), so the equi-join on prefix shingles
    finds every qualifying pair while hot shingles — which sort last — never
    enter short posting lists.  Exact verification then runs on candidates
    only.  This is the exact-dedup plan that survives 100 TB: two shuffles
    (doc-frequency agg, prefix rank) + a rare-key equi-join.
    """
    sh_df = _shingle_sets(df, id_col, text_col, k, reuse)
    cand = _prefix_candidates(sh_df, threshold)
    out = _verified_jaccard(cand, sh_df, threshold)
    if reuse:
        # the verified pair set is tiny by construction (near-dup pairs);
        # caching it lets downstream consumers (duplicate clustering reads it
        # once per propagation round; dedup-rate metrics re-scan it) skip the
        # whole candidate+verify pipeline — CacheManager dedupes identical
        # plans, so repeated calls share one entry.
        out = _persist_tracked(out)
    return out


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    reuse: bool = False,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct shingles that
    are FIRST INTRODUCED by it (its id is the corpus-wide minimum id among
    docs containing the shingle).  The curation metric behind 'how much of
    this crawl is new content' dashboards and dedup-rate monitoring —
    exact-dup copies score 0.0, fresh documents ~1.0.

    Scale shape: shingle explode -> min-id aggregate keyed by shingle
    (map-side combinable; a hot shingle is ONE reducer key carrying an
    8-byte min, not a posting list) -> join back on shingle (linear in
    shingle occurrences) -> per-doc count aggregate.  Two shuffles + one
    keyed join, no pairwise anything — this is what makes novelty cheap
    where pairwise dedup is not.

    Output: (doc_id, n_shingles, n_novel, novelty[floor4]).
    """
    # NOT _shingle_sets: its repartition-by-doc is the right co-location for
    # the multi-pass pairwise algorithms, but novelty's very next operator
    # shuffles by SHINGLE — a doc-keyed exchange first would be a pure-waste
    # full shuffle of the corpus.
    toks = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("ws")
    )
    sh_df = toks.select(
        "doc", F.array_distinct(ngrams_from_tokens("ws", k)).alias("sh")
    )
    if reuse:
        sh_df = _persist_tracked(sh_df)
    ex = sh_df.select("doc", F.explode("sh").alias("s"))
    first = ex.groupBy("s").agg(F.min("doc").alias("first_doc"))
    per = (
        ex.join(first, "s")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("doc") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        F.col("doc").alias(id_col),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_novel").cast("bigint").alias("n_novel"),
        (F.floor(F.col("n_novel") * 1.0 / F.col("n_shingles") * 10000.0) / 10000.0).alias(
            "novelty"
        ),
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark-decontamination scan: for each training document, count its
    distinct word k-gram shingles that also occur anywhere in the eval corpus.

    Output: (doc, n_shingles, n_overlap, overlap_ratio) for training docs
    with n_overlap >= min_overlap; overlap_ratio is floor-quantized 4dp.

    Scale design: the eval side collapses to its DISTINCT shingle set —
    eval/benchmark corpora are tiny next to 100 TB of training data — and is
    broadcast, so the scan over training shingles is a map-side hash-join with
    ZERO shuffle of training data; the only shuffle is the per-doc count,
    keyed by doc id.  Shingling reuses word_shingles (JVM-side, codegen'd).
    """
    tr = (
        train.select(F.col(id_col).alias("doc"), tokens(text_col).alias("ws"))
        .select("doc", F.array_distinct(ngrams_from_tokens("ws", k)).alias("sh"))
        .select("doc", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s"))
    )
    ev = (
        eval_df.select(tokens(text_col).alias("ws"))
        .select(F.explode(F.array_distinct(ngrams_from_tokens("ws", k))).alias("s"))
        .distinct()
    )
    hits = (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    ratio = F.floor(F.col("n_overlap") * 10000.0 / F.col("n_shingles")) / 10000.0
    return hits.select(
        "doc",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_overlap",
        ratio.alias("overlap_ratio"),
    )


def minhash_machinery_sql(
    num_perm: int = 32, bands: int = 8, k: int = 3, tok_cte: str = "w"
) -> str:
    """CANONICAL DuckDB CTE block replaying this module's MinHash pipeline:
    ``sh`` (distinct word-k-gram shingles), ``h`` (portable_hash60 mod
    2^31-1), ``sig`` (the num_perm affine-permutation minima), ``bands``
    (per-band signature-slice hashes) and ``sizes`` — over a caller-
    provided token CTE ``tok_cte`` with columns (doc_id, ws).

    Every SQL oracle that replays MinHash (x03, x41, s19, x60) builds on
    THIS text, so the replay math exists in exactly one place and cannot
    drift from minhash_signatures/minhash_band_rows above."""
    coeffs = _perm_coeffs(num_perm)
    r = num_perm // bands
    mins = ",\n                 ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {bi} AS band, {bh} AS bh FROM sig".format(
            bi=bi,
            bh=portable_hash60_sql(
                "concat_ws('_', " + ", ".join(f"m{bi * r + j}" for j in range(r)) + ")"
            ),
        )
        for bi in range(bands)
    )
    return f"""
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+{k - 1}], ' ') AS s
           FROM (SELECT doc_id, ws,
                        UNNEST(generate_series(1, GREATEST(LEN(ws) - {k - 1}, 1))) AS i
                 FROM {tok_cte})),
    h AS (SELECT doc_id, {portable_hash60_sql("s")} % {MERSENNE31} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS ({band_selects}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""


def jaccard_pairs_sql(
    cand_cte: str, out_cte: str, threshold: float, with_value: bool = False
) -> str:
    """CANONICAL DuckDB twin of :func:`_verified_jaccard` over a candidate
    CTE with columns (id_a, id_b), using the ``sh``/``sizes`` CTEs from
    :func:`minhash_machinery_sql`.  ``with_value`` additionally emits the
    floor4-quantized jaccard column."""
    q = "CAST(FLOOR((i * 1.0 / (sa.n + sb.n - i)) * 10000.0) AS BIGINT) / 10000.0"
    cols = "id_a, id_b" + (f", {q} AS jaccard" if with_value else "")
    return f"""
    {out_cte}_i AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
              FROM {cand_cte} c
              JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
              GROUP BY c.id_a, c.id_b),
    {out_cte} AS (SELECT {cols} FROM {out_cte}_i
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE {q} >= {threshold})"""


def bloom_positions_spark_sql(expr: str, n_hashes: int, m_bits: int) -> list[str]:
    """The ``n_hashes`` bit positions of a shingle in an ``m_bits`` Bloom
    filter, as Spark SQL text over the shingle expression ``expr`` — the
    portable_hash60 of a per-hash-salted shingle, mod m.  Engine-portable
    (md5), so a SQL oracle (:func:`bloom_positions_sql`) replays every
    position, hence every false positive."""
    return [
        f"pmod(CAST(conv(substring(md5(CAST(concat('bloom{i}_', {expr})"
        f" AS STRING)), 1, 15), 16, 10) AS BIGINT), {m_bits})"
        for i in range(n_hashes)
    ]


def bloom_positions_sql(expr: str, n_hashes: int, m_bits: int) -> list[str]:
    """DuckDB twins of :func:`bloom_positions_spark_sql`."""
    out = []
    for i in range(n_hashes):
        salted = f"concat('bloom{i}_', {expr})"
        out.append(f"({portable_hash60_sql(salted)} % {m_bits})")
    return out


def bloom_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    m_bits: int = 2**18,
    n_hashes: int = 3,
) -> DataFrame:
    """MEMORY-BOUNDED benchmark decontamination: probe training shingles
    against a Bloom filter of the eval corpus's shingles instead of the
    broadcast shingle SET :func:`contamination_overlap` uses.

    Why it exists at 100 TB: contamination_overlap broadcasts the eval
    shingle strings — fine for one benchmark, but a decontamination pass
    against a large eval SUITE (every benchmark you'll ever report) makes
    the broadcast set grow with suite size.  The Bloom filter pins the
    broadcast at m_bits/8 bytes (32 KiB here) FOREVER, trading a
    deterministic, quantified false-positive rate: a shingle flags iff all
    ``n_hashes`` of its bit positions are set.

    Output per training doc: (doc, n_shingles, n_bloom_hits, n_exact_hits,
    flagged) — n_exact_hits is the true overlap computed alongside, so
    false positives are visible in the result itself (n_bloom_hits >=
    n_exact_hits always; the gap IS the fp count, hash-certified by the
    oracle).  In production you'd route only flagged docs (a tiny
    fraction) to the exact verifier — the standard two-tier filter.

    Scale shape: the filter is built from the eval side (one distinct-
    position aggregate, collected to the driver at <= m_bits ints — the
    same bounded-collect posture as centroid handoff) and broadcast as ONE
    array<bigint> literal of m_bits/64 words; the training scan is then a
    pure map (bit tests against the literal) + one doc-keyed count — ZERO
    shuffle of training data beyond the per-doc aggregate.  Exact-hit
    counting reuses the broadcast eval shingle set (gate-scale); drop the
    exact columns and the eval strings never ship at all.
    """
    ev_sh = eval_shingle_set(eval_df, text_col, k)
    bitset = build_bloom_bitset(ev_sh, m_bits, n_hashes)
    return bloom_probe(
        train, bitset, ev_sh, id_col, text_col, k, m_bits, n_hashes
    )


def eval_shingle_set(eval_df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct eval-corpus shingles (one column ``s``) — the build input
    for both the Bloom bitset and the exact-hit verifier."""
    return (
        eval_df.select(tokens(text_col).alias("ws"))
        .select(F.explode(F.array_distinct(ngrams_from_tokens("ws", k))).alias("s"))
        .distinct()
    )


def build_bloom_bitset(
    ev_sh: DataFrame, m_bits: int = 2**18, n_hashes: int = 3
) -> Column:
    """Build the Bloom bit array from an eval shingle set and return it as
    ONE array<bigint> literal (m_bits/64 words; a single Literal node — the
    plane_weights lesson: per-element literals cost seconds of planning).
    The collect is bounded by m_bits distinct positions — the same bounded-
    collect posture as centroid handoff.  The returned Column is reusable
    across queries AND micro-batches (it is pure plan data)."""
    # Arrow collect (toPandas) instead of a py4j row collect: the result is
    # up to m_bits small ints and the row path pays per-Row object overhead.
    pos_arr = ", ".join(bloom_positions_spark_sql("s", n_hashes, m_bits))
    pos = (
        ev_sh.select(F.expr(f"explode(array({pos_arr}))").alias("pos"))
        .distinct()
        .toPandas()["pos"]
        .to_numpy()
    )
    words = [0] * (m_bits // 64)
    for p in pos.tolist():
        words[p // 64] |= 1 << (p % 64)
    # ONE parsed SQL array literal: F.lit(list) expands to one py4j
    # Column call PER ELEMENT (m_bits/64 = 4096 round trips, measured
    # 2.8 s per build, and the streaming gates build a bitset per run).
    # Words are unsigned 64-bit; the literal holds their signed twins.
    return F.expr(
        bigint_array_lit(w - (1 << 64) if w >= (1 << 63) else w for w in words)
    )


def bloom_probe(
    train: DataFrame,
    bitset: Column,
    ev_sh: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    m_bits: int = 2**18,
    n_hashes: int = 3,
) -> DataFrame:
    """Probe training docs against a pre-built Bloom bitset (see
    :func:`bloom_decontamination` for semantics/output).  Split out so the
    STREAMING twin (s20) can apply the same probe per micro-batch against
    one shared bitset — the probe is per-doc-local (a doc's shingles all
    live in its own row), so batch-local application over any stream split
    equals the one-shot batch answer."""
    tr = (
        train.select(F.col(id_col).alias("doc"), tokens(text_col).alias("ws"))
        .select("doc", F.array_distinct(ngrams_from_tokens("ws", k)).alias("sh"))
        .select("doc", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s"))
        .withColumn("_bs", bitset)
    )
    tr = tr.selectExpr(
        "*",
        *[
            f"{p} AS _p{i}"
            for i, p in enumerate(
                bloom_positions_spark_sql("s", n_hashes, m_bits)
            )
        ],
    )
    # bit test in SQL form: the Python shiftright wrapper only takes int
    # literals, but the SQL function shifts by any expression.  Arithmetic
    # (signed) shift is fine — "& 1" reads the target bit regardless of the
    # sign extension above it.
    all_set = " AND ".join(
        f"((shiftright(element_at(_bs, CAST(_p{i} DIV 64 AS INT) + 1),"
        f" CAST(_p{i} % 64 AS INT)) & 1) = 1)"
        for i in range(n_hashes)
    )
    probed = tr.withColumn("bloom_hit", F.expr(all_set).cast("int")).drop(
        "_bs", *[f"_p{i}" for i in range(n_hashes)]
    )
    exact = probed.join(
        F.broadcast(ev_sh.withColumn("exact_hit", F.lit(1))), "s", "left"
    )
    out = exact.groupBy("doc", "n_shingles").agg(
        F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
        F.sum(F.coalesce("exact_hit", F.lit(0))).cast("bigint").alias("n_exact_hits"),
    )
    return out.select(
        "doc",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_bloom_hits",
        "n_exact_hits",
        (F.col("n_bloom_hits") > 0).cast("bigint").alias("flagged"),
    )


def containment_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """One-sided CONTAINMENT decontamination: per (train, eval) pair, the
    fraction of the EVAL doc's shingles present in the training doc —
    C(eval in train) = |A∩B| / |eval shingles|.  Catches a short benchmark
    QUOTED inside a long training doc, where symmetric Jaccard (x41's
    fuzzy tier) never fires and the union overlap (x24) cannot attribute
    the leak to a benchmark.

    Output: (train_id, eval_id, n_shared, containment) for pairs with
    floor4-quantized containment >= threshold.

    Scale shape: the eval shingle postings broadcast (benchmarks are MBs
    next to TB corpora); candidate generation is a map-side hash join on
    the shingle string, and the per-pair intersection is ONE keyed count
    over the joined rows — no arrays materialized, no all-pairs product,
    zero training-corpus shuffle beyond that count.  Exact by design: a
    one-sided-rare quoted excerpt can evade MinHash banding entirely, so
    the exact path is the right default while the eval side is small."""
    def shingle_rows(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("ws"))
            .select(
                "doc_id",
                F.explode(F.array_distinct(ngrams_from_tokens("ws", k))).alias("s"),
            )
        )

    ev = shingle_rows(eval_df)
    tr = shingle_rows(train)
    ev_sizes = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        tr.join(F.broadcast(ev.withColumnRenamed("doc_id", "eval_id")), "s")
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    containment = F.floor(F.col("i") * 10000.0 / F.col("n")) / 10000.0
    return (
        inter.join(
            F.broadcast(ev_sizes.withColumnRenamed("doc_id", "eval_id")), "eval_id"
        )
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select(
            "train_id",
            "eval_id",
            F.col("i").cast("bigint").alias("n_shared"),
            "containment",
        )
    )


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a odd, b) mod 2^31-1.

    Derived from a fixed LCG so signatures are stable across runs/engines —
    no RNG state, no driver randomness.
    """
    coeffs = []
    x = seed & 0x7FFFFFFF
    for _ in range(num_perm):
        x = (1103515245 * x + 12345) % MERSENNE31
        a = (x | 1) % MERSENNE31 or 1
        x = (1103515245 * x + 12345) % MERSENNE31
        b = x % MERSENNE31
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    k: int = 3,
    reuse: bool = True,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: array<bigint> of length num_perm.

    One explode + one hash-aggregate (map-side combinable MIN per perm) —
    a single shuffle keyed by doc id.  Base hash is portable_hash60(shingle)
    reduced mod 2^31-1 (engine-portable, so the DuckDB oracle can replay the
    exact signatures); perm_i(h) = (a_i*h + b_i) mod 2^31-1 stays < 2^62
    (ANSI-safe).

    ``shingle_df``: a pre-computed (doc, sh) frame (``_shingle_sets``
    shape) to build from instead of re-tokenizing ``df`` — for callers
    that already materialized shingle sets (e.g. the streaming sink, which
    writes them to its state store and reads them back).
    """
    coeffs = _perm_coeffs(num_perm)
    if shingle_df is not None and df is not None:
        raise ValueError(
            "pass EITHER df (tokenized internally) OR shingle_df (a "
            "pre-computed (doc, sh) frame), not both — df would be "
            "silently ignored, hiding a mismatched-source mistake"
        )
    if shingle_df is None and df is None:
        raise ValueError("minhash_signatures needs df or shingle_df")
    # explode AFTER the doc-partitioned exchange: partitioning survives the
    # generator, so the per-doc MIN aggregation below needs no further shuffle
    base = (
        shingle_df
        if shingle_df is not None
        else _shingle_sets(df, id_col, text_col, k, reuse)
    )
    sh = base.select("doc", F.explode("sh").alias("s"))
    h = F.pmod(portable_hash60("s"), F.lit(MERSENNE31)).alias("h")
    hashed = sh.select("doc", h)
    # each per-permutation MIN arrives as ONE parsed SQL string instead of
    # a ~6-call py4j Column chain: this builder runs per gate and per
    # micro-batch in the streaming sinks
    mins = [
        F.expr(f"MIN(pmod(h * {a} + {b}, {MERSENNE31})) AS m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = hashed.groupBy("doc").agg(*mins)
    arr = ", ".join(f"m{i}" for i in range(num_perm))
    return sig.select("doc", F.expr(f"array({arr}) AS signature"))


def minhash_band_rows(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    reuse: bool = True,
    shingle_df: DataFrame | None = None,
    signature_df: DataFrame | None = None,
) -> DataFrame:
    """LSH band table (doc, band, bh) from MinHash signatures — the
    join-key material both the batch pair finders and the streaming band
    index (s19) build on.  One row per (doc, band); bh is the
    portable_hash60 of the band's signature slice, so a DuckDB oracle can
    replay the exact buckets."""
    r = num_perm // bands
    # signature_df: a pre-computed (doc, signature) frame — callers that
    # need the signatures for their own purposes too (x66) hand them in
    # once instead of re-running the num_perm-way MIN aggregate per consumer
    sig = (
        signature_df
        if signature_df is not None
        else minhash_signatures(df, id_col, text_col, num_perm, k, reuse, shingle_df)
    )
    # the whole band/bucket expression arrives as ONE parsed SQL string:
    # SQL `signature[i]` is 0-based like Column.getItem, and the hash
    # matches portable_hash60 textually (md5/substring/conv)
    structs = ", ".join(
        f"struct({bi} AS band, "
        "CAST(conv(substring(md5(CAST(concat_ws('_', "
        + ", ".join(f"signature[{bi * r + j}]" for j in range(r))
        + ") AS STRING)), 1, 15), 16, 10) AS BIGINT) AS bh)"
        for bi in range(bands)
    )
    return sig.select(
        "doc", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc", "bb.band", "bb.bh")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float | None = 0.8,
    reuse: bool = True,
    salt: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (optionally Jaccard-verified).

    num_perm/bands rows-per-band = r gives the usual S-curve: collision prob
    = 1-(1-j^r)^b.  Candidate generation shuffles on (band_id, band_hash) —
    bucket-local joins only, which is what survives 100 TB.  With
    ``verify_threshold`` set, candidates are exact-verified with the
    inverted-index Jaccard on the candidate subset only.

    ``salt``: skew fallback for a HOT BAND (a massive exact-duplicate group
    collides in every band, putting one huge bucket on one reducer).  The
    left side gets salt_a = hash(doc) mod salt; the right side is replicated
    across all ``salt`` values and the join key becomes (band, bh, salt_a) —
    every pair still matches exactly once (via a's salt), but each reducer
    key now holds 1/salt of the hot bucket's left side.  Output pairs are
    IDENTICAL to the unsalted plan (property-tested); cost is salt-way
    replication of the right side, so turn it on when a duplicate group
    exceeds what one task should hold, not by default.  NOTE: AQE's
    automatic skew-join split does NOT cover this join by default — the
    band join feeds the candidate .distinct() (a downstream shuffle), and
    default AQE skips splitting joins whose output must satisfy another
    distribution (pinned in tests/test_aqe.py).  For pathological corpora
    the explicit controls are this salt or
    spark.sql.adaptive.forceOptimizeSkewedJoin.
    """
    band_rows = minhash_band_rows(df, id_col, text_col, num_perm, bands, k, reuse)
    a = band_rows.select(F.col("doc").alias("id_a"), "band", "bh")
    b = band_rows.select(F.col("doc").alias("id_b"), "band", "bh")
    if salt and salt > 1:
        a = a.withColumn("salt", F.pmod(portable_hash60("id_a"), F.lit(salt)))
        b = b.withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        join_keys = ["band", "bh", "salt"]
    else:
        join_keys = ["band", "bh"]
    cand = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    return _verified_jaccard(cand, _shingle_sets(df, id_col, text_col, k, reuse), verify_threshold)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash per document over whitespace tokens (bits<=32 keeps the
    signature in int range; the bit-vote sums are computed as one aggregate
    of +/-1 contributions per bit — explode + single shuffle)."""
    toks = tokens(text_col)
    # expressions compose as parsed SQL strings (~40 py4j round trips
    # instead of ~500), and the hash is projected ONCE per token row
    # instead of appearing inside all ``bits`` vote aggregates
    t = df.select(F.col(id_col).alias("doc"), F.explode(toks).alias("w")).select(
        "doc",
        F.expr(
            "CAST(conv(substring(md5(CAST(w AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    votes = [
        F.expr(
            f"SUM(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS v{i}"
        )
        for i in range(bits)
    ]
    agg = t.groupBy("doc").agg(*votes)
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return agg.select("doc", F.expr(f"{sig} AS simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: any pair within distance d < bands must agree exactly
    on at least one of the ``bands`` bit-blocks, so candidates come from
    equi-joins on block values (bucket shuffle, no all-pairs), then exact
    Hamming via bit_count(xor) filters."""
    sig = simhash(df, id_col, text_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    structs = ", ".join(
        f"struct({bi} AS block, shiftright(simhash, {bi * width}) & {mask} AS bv)"
        for bi in range(bands)
    )
    blocks = sig.select(
        "doc", "simhash", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc", "simhash", "bb.block", "bb.bv")
    a = blocks.select(F.col("doc").alias("id_a"), F.col("simhash").alias("sig_a"), "block", "bv")
    b = blocks.select(F.col("doc").alias("id_b"), F.col("simhash").alias("sig_b"), "block", "bv")
    return (
        a.join(b, ["block", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


def minhash_cross_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """FUZZY benchmark decontamination: MinHash+LSH candidates BETWEEN two
    corpora (training vs evaluation), exact-Jaccard-verified — catches
    paraphrase-level contamination the exact-shingle pass
    (:func:`contamination_overlap`) misses.

    Output: (train_id, eval_id, jaccard) for every cross-corpus pair with
    word-k-gram Jaccard >= threshold.

    Scale shape: both sides compute signatures independently (one shuffle
    each); candidates come from the (band, band_hash) equi-join with the
    EVAL side tiny in practice (benchmarks are MBs, corpora are TBs) — Spark
    broadcasts it and the training corpus never shuffles for the join, the
    same asymmetry contamination_overlap exploits.  Verification joins each
    candidate id back to its shingle set — O(|candidates|)."""

    def band_rows(df: DataFrame) -> DataFrame:
        return minhash_band_rows(df, id_col, text_col, num_perm, bands, k)

    a = band_rows(train).select(F.col("doc").alias("id_a"), "band", "bh")
    b = band_rows(eval_df).select(F.col("doc").alias("id_b"), "band", "bh")
    cand = (
        a.join(F.broadcast(b), ["band", "bh"]).select("id_a", "id_b").distinct()
    )
    sh = _shingle_sets(train.unionByName(eval_df), id_col, text_col, k)
    return _verified_jaccard(cand, sh, threshold).select(
        F.col("id_a").alias("train_id"),
        F.col("id_b").alias("eval_id"),
        "jaccard",
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    reuse: bool = True,
) -> DataFrame:
    """ASYMMETRIC containment C(A in B) = |sh(A) n sh(B)| / |sh(A)| >=
    threshold — excerpt/quotation detection: a short document largely
    contained in a long one scores high containment while its Jaccard stays
    low (the union is dominated by the long side), so Jaccard dedup (x02)
    systematically misses subset duplication.  The standard companion metric
    in corpus curation (quote mining, boilerplate provenance, eval-leak
    containment).

    Candidate generation is a ONE-SIDED prefix filter: if C(A in B) >= t
    then A shares >= ceil(t*|A|) shingles with B, so at least one shared
    shingle lies in A's |A| - ceil(t*|A|) + 1 rarest (same argument as
    AllPairs, applied to the contained side only).  The B side must index
    ALL its shingles (no symmetric prefix exists for containment), so
    posting lists carry the full corpus — the dfreq==1 drop still applies
    (a shingle in one doc can't pair two), and the one-sided length filter
    |B| >= t*|A| prunes candidates where B is too small to contain A's
    overlap.  Verify is exact array_intersect on candidates only.

    Output: (id_a, id_b, containment[floor4]) with id_a != id_b — BOTH
    directions are evaluated independently (containment is not symmetric).
    """
    sh_df = _shingle_sets(df, id_col, text_col, k, reuse)
    from pyspark.sql import Window

    sh = sh_df.select("doc", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    # both the A-prefix and the B-postings branch read this frame; persist so
    # the explode + dfreq join runs once (same lifecycle discipline as
    # _shingle_sets — dedup_cache_scope() owns the unpersist)
    shf = sh.join(dfreq, "s")
    if reuse:
        shf = _persist_tracked(shf)
    w = Window.partitionBy("doc").orderBy("dfreq", "s")
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - 1e-9) + 1
    # Rank over ALL shingles, drop dfreq==1 only AFTER ranking (the x02
    # discipline).  Filtering first is correctness-safe but scale-broken: a
    # doc whose rare shingles are all corpus-unique would then PROMOTE a hot
    # shingle into its prefix, and the hot posting list turns candidate
    # generation quadratic (measured: 16x hot-shingle corpus 242s -> 13s).
    a_prefix = (
        shf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .filter(F.col("dfreq") > 1)
        .select(F.col("doc").alias("id_a"), "s", F.col("n").alias("na"))
    )
    b_post = shf.filter(F.col("dfreq") > 1).select(
        F.col("doc").alias("id_b"), "s", F.col("n").alias("nb")
    )
    cand = (
        a_prefix.join(b_post, "s")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("nb") >= F.col("na") * threshold - 1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh_df.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_df.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("containment", F.floor(i * 10000.0 / F.size("sh_a")) / 10000.0)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# Exact substring-duplication (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): REPEATED SPANS, not whole-document dups —
# the dedup family's missing granularity (boilerplate paragraphs, license
# headers, quoted chunks repeat across otherwise-distinct documents).  The
# reference implementation builds a corpus-wide suffix array on one big
# machine; the Spark-native equivalent is the length-L word-window form: a
# span is duplicated iff some L-word window inside it occurs >= 2 times
# anywhere in the corpus.  That is one explode (bounded Lx row blowup, the
# honest cost), one map-side-combinable hash count, one equi-join back, and
# a per-doc gaps-and-islands merge — every stage shuffles on a key, nothing
# is all-pairs, and window hashes are 60-bit portable so the whole chain
# carries a full DuckDB oracle.
# ---------------------------------------------------------------------------


def _window_occurrences(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
    checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """((doc, n_words), (doc, pos0, h)): every length-``min_len`` word
    window's 0-based start position and portable hash.  Tokenization is the
    family's normalized tokens(); the two-step projection keeps the HOF off
    re-tokenization (see _shingle_sets).  Both frames derive from ONE
    combined (doc, n_words, windows) projection; ``checkpoint`` eagerly
    materializes it so consumers of BOTH frames tokenize the input exactly
    once (the incremental update's posture — a 1 TB drop must not pay two
    text scans); the one-shot gates leave it lazy (their single-action
    plans pay one scan per branch, the documented small trade)."""
    L = min_len
    toks = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("ws")
    )
    ws = F.col("ws")
    starts = F.when(
        F.size(ws) >= L, F.sequence(F.lit(1), F.size(ws) - L + 1)
    ).otherwise(F.array().cast("array<int>"))  # sequence() counts DOWN past the end
    # greatest(-1, 0): F.size(NULL) is -1 under non-ANSI Spark — NULL-text
    # docs must report 0 words (row parity with the oracle's COALESCE)
    n_words = F.greatest(F.size(ws), F.lit(0)).cast("bigint").alias("n_words")
    windows = F.transform(
        starts,
        lambda i: F.struct(
            (i - 1).cast("bigint").alias("pos0"),
            portable_hash60(F.array_join(F.slice(ws, i, L), " ")).alias("h"),
        ),
    )
    if checkpoint:
        combined = toks.select("doc", n_words, windows.alias("os")).localCheckpoint(
            eager=True
        )
        sizes = combined.select("doc", "n_words")
        occ = combined.select("doc", F.explode("os").alias("o"))
    else:
        # lazy path: sizes stays a slim projection OFF the token frame —
        # routing it through the combined projection defeats column
        # pruning (the sizes branch would hash every window just to read
        # n_words; measured 2.6x on x96)
        sizes = toks.select("doc", n_words)
        occ = toks.select("doc", F.explode(windows).alias("o"))
    occ = occ.select("doc", F.col("o.pos0").alias("pos0"), F.col("o.h").alias("h"))
    return sizes, occ


def substring_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
) -> DataFrame:
    """Per-doc MAXIMAL duplicated spans: merge overlapping duplicated
    windows (gaps-and-islands: a window starting at or before the running
    span end extends it; a window starting exactly one past the end is a
    new span — identical rule in the SQL oracle) and report, per document,
    ``n_words``, ``n_dup_spans``, ``dup_words`` (positions covered by any
    duplicated window), and ``dup_frac_q`` (floor-quantized 1e-4).  Every
    document comes back (LEFT join row parity; NULL/short text -> zeros).

    Scale shape: occurrence explode is Lx the word count (map-only); the
    duplicate test is ONE hash-keyed count aggregate (map-side combinable —
    at 100 TB this is the shuffle, and it carries 16-byte rows, not text);
    the island merge runs per doc (window over the doc's duplicated starts
    only).  Nothing is all-pairs; memory per task is bounded by the
    longest single document.  Gate x96."""
    L = min_len
    sizes, occ = _window_occurrences(docs, text_col, id_col, L)
    dup_h = occ.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= 2
    )
    starts = occ.join(dup_h.select("h"), "h").select("doc", "pos0")
    return _dup_span_stats(sizes, starts, L, id_col)


def _dup_span_stats(
    sizes: DataFrame, starts: DataFrame, L: int, id_col: str
) -> DataFrame:
    """Per-doc span stats from duplicated window STARTS — the
    gaps-and-islands overlap merge + LEFT-join row parity tail shared by
    :func:`substring_dup_spans` (one-shot, x96) and the incremental
    :func:`~hiveka_spark.operators.incremental.substring_index_update`
    (x99): the two differ only in HOW a window is judged duplicated."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("pos0")
    prev_end = F.max(F.col("pos0") + L - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = starts.withColumn(
        "new_isl",
        F.when(F.col("pos0") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn("isl", F.sum("new_isl").over(w))
    spans = isl.groupBy("doc", "isl").agg(
        F.min("pos0").alias("s"),
        F.max(F.col("pos0") + L - 1).alias("e"),
    )
    per_doc = spans.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_words"),
    )
    return sizes.join(per_doc, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_words",
        F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        F.coalesce("dup_words", F.lit(0)).cast("bigint").alias("dup_words"),
        (
            F.floor(
                F.coalesce("dup_words", F.lit(0))
                * 10000.0
                / F.greatest("n_words", F.lit(1))
            )
        ).cast("bigint").alias("dup_frac_q"),
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
) -> DataFrame:
    """Keep-first substring REMOVAL (the Lee et al. rewrite): for every
    duplicated window hash the GLOBAL first occurrence — argmin (doc, pos0)
    under the portable total order — is kept; every word position covered
    by any NON-first occurrence is removed, in the first-occurrence's own
    document too (later self-repeats are duplicates).  Emits per doc:
    ``n_words``, ``kept_words``, ``removed_words``, and ``clean_md5`` (md5
    of the kept words joined by single spaces — the certified rewrite
    artifact; empty docs hash the empty string).

    Scale shape adds to :func:`substring_dup_spans`: the argmin is the same
    hash-keyed aggregate carrying a (doc, pos0) struct; coverage is an
    explode of L positions per non-first occurrence, distinct-ed per doc
    (never corpus-wide); the rewrite is one per-doc ordered fold over kept
    word rows (the x82 reassembly shape).  Gate x97."""
    L = min_len
    sizes, occ = _window_occurrences(docs, text_col, id_col, L)
    agg = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc", "pos0")).alias("first"),
    ).filter(F.col("cnt") >= 2)
    nonfirst = (
        occ.join(agg, "h")
        .filter(
            ~((F.col("doc") == F.col("first.doc")) & (F.col("pos0") == F.col("first.pos0")))
        )
        .select("doc", "pos0")
    )
    covered = nonfirst.select(
        "doc",
        F.explode(F.sequence(F.col("pos0"), F.col("pos0") + L - 1)).alias("wpos"),
    ).distinct()
    words = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("ws")
    ).select("doc", F.posexplode("ws").alias("wpos", "w"))
    kept = words.join(covered, ["doc", "wpos"], "left_anti")
    per = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_words"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    # LEFT join from the per-doc size frame: a doc whose words are ALL
    # removed (fully duplicated, non-first) still comes back, as does a
    # NULL/empty doc — both with kept_words 0 and md5('')
    return sizes.join(per, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_words",
        F.coalesce("kept_words", F.lit(0)).cast("bigint").alias("kept_words"),
        (F.col("n_words") - F.coalesce("kept_words", F.lit(0)))
        .cast("bigint").alias("removed_words"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )
