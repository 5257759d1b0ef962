"""SURVEY.md §2C (round-5 widening) — corpus-curation + compressed-ANN entries.

The next ring of training-data-pipeline operators outward from the dedup/
quality primitives (extensions.py) and the composite curation steps
(pipeline_ext.py):

- x47 overlapping context-window chunking: the tokenize→window step that
  turns long documents into model-context-sized training samples with a
  stride overlap (distinct from x25, which greedily PACKS whole short docs
  into bins — this SPLITS long docs into overlapping windows).
- x48 product-quantization ANN (ADC): the compressed-vector scale path for
  similarity search — corpus indexed as m one-byte codes per vector, queries
  answered from a broadcast lookup table (Jégou et al. 2011 / FAISS IVFPQ
  shape).  Complements x06 (brute), x07 (LSH pruning), x15 (IVF pruning).
- x49 perceptual-hash image dedup: banding + Hamming-verify over a 60-bit
  hash of decoded media — the image-side analog of x04's SimHash text path,
  run through the real mapInPandas decode plumbing (multimodal.py).
- x50 corpus report: the per-source "dataset card" aggregate (doc/token
  counts, language spread, exact-dup count, discrete median length) a
  curation run publishes with every snapshot.

All arithmetic is engine-exact (integer token counts, bigint squared-L2,
Horner hex parsing, integer micro-units), so every entry carries a full
DuckDB oracle.  No reference analog (the reference is a Kafka scan layer);
designed Spark-first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hiveka_spark.catalog import table
from hiveka_spark.operators.text import tokens
from hiveka_spark.queries import register
from hiveka_spark.scratch import scratch_dir

# ---------------------------------------------------------------------------
# x47 — overlapping context-window chunking
# ---------------------------------------------------------------------------

_WIN = 32  # tokens per training chunk
_STRIDE = 24  # window stride (8-token overlap)


@register(
    "x47_chunk_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
               FROM documents),
    n AS (SELECT doc_id, ws, LEN(ws) AS n FROM w),
    c AS (SELECT doc_id, ws, n,
                 UNNEST(generate_series(0,
                   CASE WHEN n >= 1
                        THEN (GREATEST(n - {_WIN}, 0) + {_STRIDE - 1}) // {_STRIDE}
                        ELSE -1 END)) AS i
          FROM n)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * {_STRIDE} + 1 AS BIGINT) AS start_tok,
           CAST(LEAST(i * {_STRIDE} + {_WIN}, n) - i * {_STRIDE} AS BIGINT) AS n_tok,
           array_to_string(ws[CAST(i * {_STRIDE} + 1 AS INT):CAST(LEAST(i * {_STRIDE} + {_WIN}, n) AS INT)], ' ')
             AS chunk_text
    FROM c
    """,
    tags=("text", "chunking", "training-prep"),
)
def x47_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: tokenize each document and emit
    32-token training windows at a 24-token stride (8-token overlap, the
    standard trick so no sentence is ever split at a hard boundary for the
    model).  A doc with n tokens yields 1 + ceil(max(n-32,0)/24) windows; the
    last window is allowed to run short.

    Scale shape: ZERO shuffles — tokenize, window-count, and slice are all
    narrow per-row expressions (sequence + explode), so the operator is a
    map-only pass that scales with input bytes.  The window/stride arithmetic
    is pure integers, exact in both engines.
    """
    d = table(spark, sf_dir, "documents")
    n = F.size("ws")
    n_windows = F.floor((F.greatest(n - _WIN, F.lit(0)) + (_STRIDE - 1)) / _STRIDE)
    seq = F.when(n >= 1, F.sequence(F.lit(0).cast("bigint"), n_windows)).otherwise(
        F.array().cast("array<bigint>")
    )
    start = (F.col("chunk_idx") * _STRIDE + 1).cast("int")
    return (
        d.select("doc_id", tokens("text").alias("ws"))
        .select("doc_id", "ws", F.explode(seq).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            start.cast("bigint").alias("start_tok"),
            F.size(F.slice("ws", start, _WIN)).cast("bigint").alias("n_tok"),
            F.array_join(F.slice("ws", start, _WIN), " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# x48 — product-quantization ANN (ADC)
# ---------------------------------------------------------------------------


def _pq_oracle(k: int = 5, m: int = 16, dsub: int = 4, n_cent: int = 64, stride: int = 7) -> str:
    """Replay of operators.similarity.pq_topk: same stride centroids, same
    bigint squared-L2 (computed via the exact double identity
    d2 = <a,a> - 2<a,b> + <b,b>; all dots < 2^33, exact in IEEE doubles),
    same (d2, code) argmin tie-break, same ADC sum + rank order."""
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    sub AS (SELECT vec_id, CAST(s AS BIGINT) AS sub,
                   list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                  x -> CAST(x AS DOUBLE)) AS sv
            FROM q CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    cents AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
              FROM sub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    asgn AS (SELECT s.vec_id, s.sub, c.code,
                    CAST(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv) AS BIGINT) AS d2
             FROM sub s JOIN cents c USING (sub)),
    codes AS (SELECT vec_id AS neighbor_id, sub, code
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d2, code) AS r
                    FROM asgn)
              WHERE r = 1),
    lut AS (SELECT vec_id AS query_id, sub, code, d2 AS d2q
            FROM asgn WHERE vec_id < 10),
    scored AS (SELECT l.query_id, c.neighbor_id, CAST(SUM(l.d2q) AS BIGINT) AS approx_d2
               FROM codes c JOIN lut l USING (sub, code)
               WHERE l.query_id <> c.neighbor_id
               GROUP BY 1, 2)
    SELECT query_id, neighbor_id, approx_d2, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@register("x48_pq_ann", oracle=_pq_oracle(), tags=("similarity", "ann", "pq"))
def x48_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-5 via asymmetric distance
    computation: the corpus is indexed as 16 codebook ids per vector (4-dim
    subspaces, 64 stride-sampled centroids each) and queries are answered
    from a broadcast (query, subspace, code) -> distance lookup table —
    corpus vectors are never touched at query time.  The compressed-index
    billion-scale ANN shape, complementing x07 (LSH) and x15 (IVF), which
    prune WHICH vectors are scored where PQ compresses HOW."""
    from hiveka_spark.operators.similarity import pq_topk

    e = table(spark, sf_dir, "embeddings")
    return pq_topk(
        e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, m=16, dim=64, n_centroids=64, centroid_stride=7,
    )


# ---------------------------------------------------------------------------
# x49 — perceptual-hash image dedup (banding + Hamming verify)
# ---------------------------------------------------------------------------

_PH_BANDS = 4
_PH_BAND_BITS = 15  # 4 x 15 = 60-bit hash (fits a positive bigint exactly)
_PH_HAMMING = 6


def _phash_oracle() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT media_id, phash, CAST({b} AS BIGINT) AS band_idx, "
        f"(phash // {32768 ** b}) % 32768 AS band_val FROM p"
        for b in range(_PH_BANDS)
    )
    return f"""
    WITH p AS (
      SELECT doc_id AS media_id,
             list_reduce(
               list_transform(range(0, 15),
                 k -> CAST(strpos('0123456789abcdef',
                                  substr(sha256(text), CAST(k + 1 AS INT), 1)) - 1 AS BIGINT)),
               (acc, x) -> acc * 16 + x) AS phash
      FROM documents),
    e AS ({band_rows}),
    pairs AS (
      SELECT a.media_id, a.phash,
             b.media_id AS partner, b.phash AS partner_hash
      FROM e a JOIN e b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                       AND a.media_id <> b.media_id),
    stats AS (
      SELECT media_id,
             CAST(COUNT(DISTINCT partner) AS BIGINT) AS n_band_mates,
             CAST(COUNT(DISTINCT CASE WHEN bit_count(xor(phash, partner_hash)) <= {_PH_HAMMING}
                                      THEN partner END) AS BIGINT) AS n_dups
      FROM pairs GROUP BY 1)
    SELECT p.media_id, p.phash,
           COALESCE(s.n_band_mates, 0) AS n_band_mates,
           COALESCE(s.n_dups, 0) AS n_dups
    FROM p LEFT JOIN stats s USING (media_id)
    """


@register("x49_image_phash_dedup", oracle=_phash_oracle(), tags=("multimodal", "dedup", "phash"))
def x49_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: run the media table through the real
    Arrow-batched decode (mapInPandas, multimodal.py), derive a 60-bit
    content hash from the decoded digest (the fake decode is digest-tiling,
    so the hash is a pure function of the pixel buffer — with a real codec
    this is where the DCT pHash goes), band it 4 x 15 bits, and count each
    image's band-mates and Hamming<= {_PH_HAMMING} near-duplicates.

    The image-side analog of x04 (SimHash text dedup): identical/near-
    identical pixel content collides on every/most bands, and the pigeonhole
    guarantee (any pair within Hamming 6 of a 60-bit hash agrees exactly on
    >=1 of 4 bands at distance <=6... any pair differing in <=3 bands' worth
    of bits shares a band) turns dedup into an equi-join on (band, value) —
    never an all-pairs scan.  Candidate pairs carry only ids + two bigints;
    the Hamming verify is a bit_count(xor) on the joined rows.

    Every image is reported (left join back), so the output is one
    deterministic row per image even on a dup-free corpus — the gate then
    certifies the banding/verify arithmetic, not just a row count.
    """
    from hiveka_spark.operators.multimodal import decode_image_features, synthesize_media

    d = table(spark, sf_dir, "documents")
    feats = decode_image_features(synthesize_media(d, "doc_id", "text"))
    p = feats.select(
        "media_id",
        F.conv(F.substring("content_sha", 1, 15), 16, 10).cast("bigint").alias("phash"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band_idx"),
                F.pmod(F.expr(f"phash DIV {32768 ** b}"), F.lit(32768)).alias("band_val"),
            )
            for b in range(_PH_BANDS)
        ]
    )
    e = p.select("media_id", "phash", F.inline(bands))
    a = e.select("media_id", "phash", "band_idx", "band_val")
    b = e.select(
        F.col("media_id").alias("partner"),
        F.col("phash").alias("partner_hash"),
        "band_idx",
        "band_val",
    )
    stats = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("media_id") != F.col("partner"))
        .groupBy("media_id")
        .agg(
            F.count_distinct("partner").cast("bigint").alias("n_band_mates"),
            F.count_distinct(
                F.when(
                    F.bit_count(F.col("phash").bitwiseXOR(F.col("partner_hash")))
                    <= _PH_HAMMING,
                    F.col("partner"),
                )
            )
            .cast("bigint")
            .alias("n_dups"),
        )
    )
    return p.join(stats, "media_id", "left").select(
        "media_id",
        "phash",
        F.coalesce("n_band_mates", F.lit(0).cast("bigint")).alias("n_band_mates"),
        F.coalesce("n_dups", F.lit(0).cast("bigint")).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# x50 — per-source corpus report ("dataset card" aggregate)
# ---------------------------------------------------------------------------


@register(
    "x50_corpus_report",
    oracle="""
    WITH t AS (SELECT source, doc_id, lang, n_chars,
                      LEN(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS n_tok,
                      md5(text) AS h
               FROM documents),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM t)
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(MAX(n) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_tok END) AS BIGINT) AS p50_tokens,
           CAST(SUM(n_chars) * 1000000 // MAX(n) AS BIGINT) AS avg_chars_micro
    FROM r GROUP BY source
    """,
    tags=("stats", "report", "curation"),
)
def x50_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card report: doc/token totals, language spread,
    exact-duplicate count (docs minus distinct content hashes), DISCRETE
    median token count (the row at rank ceil(n/2) — percentile_disc, so the
    value is an actual document's length and stays integer-exact, unlike
    interpolating percentiles), and mean chars in integer micro-units.

    Scale shape: 3 keyed shuffles of slim per-doc rows — ONE exchange on
    source feeds BOTH window functions (rank + partition count share the
    partitioning), then the two exact COUNT(DISTINCT)s on different columns
    force Catalyst's Expand rewrite (rows x3, keyed on (source, h, lang,
    gid)) plus the final re-key to source.  All exchanges carry only ids and
    counters, never text.  The discrete median costs a per-source sort
    (inherent to any exact percentile); at 100 TB you'd trade the exact
    distinct counts for HLL sketches (q36's path) and drop the Expand.
    """
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        F.md5("text").alias("h"),
    )
    w_src = Window.partitionBy("source")
    r = t.withColumn(
        "rn", F.row_number().over(w_src.orderBy("n_tok", "doc_id"))
    ).withColumn("n", F.count(F.lit(1)).over(w_src))
    return r.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        (F.max("n") - F.count_distinct("h")).cast("bigint").alias("n_exact_dups"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("n_tok")))
        .cast("bigint")
        .alias("p50_tokens"),
        # sum(n_chars)*1e6 wraps bigint once one source holds ~9.2e12 chars
        # (~9 TB of text), so the scaled mean is formed by quotient/
        # remainder split instead: floor(s*1e6/n) == (s DIV n)*1e6 +
        # (s%n)*1e6 DIV n for non-negative s (exact identity; every term
        # stays far under 2^63 — s DIV n is the per-doc mean, s%n < n).
        # Pure bigint, so no decimal rounding-mode hazards either.
        F.expr(
            "CAST((sum(n_chars) DIV max(n)) * 1000000"
            " + (sum(n_chars) % max(n)) * 1000000 DIV max(n) AS BIGINT)"
        ).alias("avg_chars_micro"),
    )


# ---------------------------------------------------------------------------
# x51 — JSONL ingestion roundtrip (raw-dump source path)
# ---------------------------------------------------------------------------


@register(
    "x51_jsonl_roundtrip",
    oracle="""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY source, lang
    """,
    tags=("source", "jsonl", "roundtrip"),
)
def x51_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source path, proven by roundtrip: write the documents table as
    partitioned JSON-lines (the format raw LLM corpus dumps actually arrive
    in), read it back through Spark's distributed JSON reader with an
    EXPLICIT schema (schema inference is a full extra pass at 100 TB — never
    infer in production), and aggregate.  The oracle computes the same
    aggregate from the parquet directly, so any unicode-escaping /
    type-coercion loss in the JSON encode->decode would break the hash —
    sum_text_len pins exact string fidelity, not just row counts.

    Scale shape: the write is one narrow pass (per-partition .json files),
    the read is splittable line-delimited JSON, and the aggregate is
    map-side combined.  JSON parsing costs ~10x a parquet scan (text parse +
    no column pruning) — the entry documents the ingest edge, parquet stays
    the working format.
    """

    out = scratch_dir(prefix="gate_jsonl_")
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    d.write.mode("overwrite").json(out)
    j = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out)
    return j.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# x52 — distributed k-means (Lloyd) topic clustering
# ---------------------------------------------------------------------------


def _kmeans_assign_ctes(k: int = 8, stride: int = 61, dim: int = 64) -> str:
    """CANONICAL replay of operators.clustering.kmeans_lloyd at n_assign=2,
    ending at the ``a2`` CTE (final per-vector assignment: vec_id, cell,
    d2): stride centroids -> argmin assign -> truncating-int centroid
    update -> argmin assign.  d2 uses the exact double identity (dots <
    2^33); the update division uses // which matches Spark's DIV
    (truncation toward zero) on the bigint component sums.  Shared by the
    x52 summary oracle and the x67 cluster-balanced-sampling oracle."""
    d2 = (
        "CAST(list_dot_product(v.qvd, v.qvd) - 2 * list_dot_product(v.qvd, c.cvd)"
        " + list_dot_product(c.cvd, c.cvd) AS BIGINT)"
    )
    return f"""q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    v0 AS (SELECT vec_id, qv, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM q),
    c0 AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS cell, qvd AS cvd
           FROM v0 WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {k}),
    s1 AS (SELECT v.vec_id, v.qv, v.qvd, c.cell, {d2} AS d2
           FROM v0 v CROSS JOIN c0 c),
    a1 AS (SELECT vec_id, qv, qvd, cell, d2
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
                 FROM s1)
           WHERE r = 1),
    u1 AS (SELECT cell, i, CAST(SUM(qv[CAST(i AS INT)]) // COUNT(*) AS BIGINT) AS cval
           FROM a1 CROSS JOIN (SELECT UNNEST(range(1, {dim + 1})) AS i)
           GROUP BY cell, i),
    c1 AS (SELECT cell,
                  list_transform(list(cval ORDER BY i), x -> CAST(x AS DOUBLE)) AS cvd
           FROM u1 GROUP BY cell),
    s2 AS (SELECT v.vec_id, v.qvd, c.cell, {d2} AS d2
           FROM v0 v CROSS JOIN c1 c),
    a2 AS (SELECT vec_id, cell, d2
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
                 FROM s2)
           WHERE r = 1)"""


def _kmeans_oracle(k: int = 8, stride: int = 61, dim: int = 64) -> str:
    return f"""
    WITH {_kmeans_assign_ctes(k, stride, dim)}
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia,
           CAST(MIN(vec_id) AS BIGINT) AS min_member_id
    FROM a2 GROUP BY cell
    """


@register("x52_kmeans_clusters", oracle=_kmeans_oracle(), tags=("clustering", "kmeans", "iterative"))
def x52_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=8, assign -> integer-exact centroid
    update -> assign) over the embeddings table — the topic-clustering step
    behind cluster-balanced mixing and SemDeDup codebooks.  The corpus never
    shuffles for assignment (k-row centroid broadcast + per-row argmin); the
    update is one (cell, pos)-keyed aggregate producing k*64 rows.  Every
    iteration is bigint/truncating-div exact, so the DuckDB oracle replays
    both rounds bit-for-bit."""
    from hiveka_spark.operators.clustering import kmeans_lloyd, kmeans_summary

    e = table(spark, sf_dir, "embeddings")
    asgn = kmeans_lloyd(e, "vec_id", "embedding", k=8, n_assign=2, centroid_stride=61)
    return kmeans_summary(asgn)


# ---------------------------------------------------------------------------
# x53 — bucketed co-located fact-fact join (pay-once layout)
# ---------------------------------------------------------------------------


@register(
    "x53_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "layout"),
)
def x53_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-once bucketed layout as a gate entry: write lineitem and
    orders hash-bucketed (and per-bucket sorted) on the join key, then join
    and aggregate.  Catalyst detects the matching HashPartitioning from the
    bucket metadata and plans the fact-fact join with ZERO Exchange on
    either side — at 100 TB this removes the two dominant shuffles of every
    repeated big-big join (the layout cost is paid once, amortized over all
    downstream joins; `tests/test_bucketing.py` pins 0 shuffles vs >= 2 for
    the raw-parquet plan).  Revenue sums integer cents so the oracle — the
    same join computed WITHOUT the layout — matches bit-for-bit: bucketing
    must change the plan, never the answer."""

    from hiveka_spark.operators.bucketing import (
        colocated_join,
        prepare_bucketed_db,
        write_bucketed,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    db = "gate_bucketed"
    prepare_bucketed_db(spark, db, scratch_dir(prefix="gate_bucketed_"))
    write_bucketed(li, f"{db}.lineitem_b", ["l_orderkey"], 16)
    write_bucketed(o, f"{db}.orders_b", ["o_orderkey"], 16)
    j = colocated_join(
        spark, f"{db}.lineitem_b", f"{db}.orders_b", "l_orderkey", "o_orderkey"
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# x54 — hive-partitioned layout + partition pruning
# ---------------------------------------------------------------------------


@register(
    "x54_partitioned_layout",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM documents WHERE lang IN ('en', 'zh') GROUP BY lang
    """,
    tags=("layout", "partitioning", "pruning"),
)
def x54_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning as a gate entry: write
    documents partitioned by lang (directory-per-value layout), read back
    with a lang predicate, aggregate.  The predicate resolves against
    DIRECTORY NAMES at planning time — non-matching partitions are never
    opened, the I/O lever that turns a 100 TB corpus scan into a
    100 GB-per-language one (`tests/test_plans.py` asserts the plan's
    PartitionFilters carries the predicate and the scan reads only the two
    matching partitions).  The oracle computes the same aggregate from the
    unpartitioned parquet: layout changes I/O, never the answer.

    Partition-column cardinality discipline: partition by LOW-cardinality
    routing keys (lang, source, date) only — a high-cardinality partition
    column (doc_id...) explodes into millions of tiny directories and kills
    the file listing; high-cardinality layout belongs to bucketing (x53).
    """

    out = scratch_dir(prefix="gate_partlayout_")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "zh"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# x55 — IVF + PQ stacked ANN (FAISS IVFPQ composition)
# ---------------------------------------------------------------------------


def _trained_cells_sql(
    cell_stride: int, n_cells: int, n_iters: int, dim: int = 64,
    out_name: str = "ccents",
) -> str:
    """CTE chain replaying similarity.train_ivf_centroids (coarse Lloyd in
    quantized space): stride seeds -> per-vector (cd2, cell) argmin ->
    truncating-integer-division component means (Spark DIV == DuckDB //)
    -> empty cells keep their previous centroid.  Emits a final ``ccents``
    (cell, cvd) so downstream SQL is identical to the stride case."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    blocks = [f"""ccents0 AS (SELECT CAST(vec_id // {cell_stride} AS BIGINT) AS cell, qvd AS cvd
               FROM v0 WHERE vec_id % {cell_stride} = 0 AND vec_id // {cell_stride} < {n_cells})"""]
    for j in range(1, n_iters + 1):
        prev = f"ccents{j - 1}"
        blocks.append(f"""
    casgn{j} AS (SELECT vec_id, qv, cell FROM (
                   SELECT v.vec_id, v.qv, c.cell,
                          ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                             ORDER BY {d2.format(a="v.qvd", b="c.cvd")},
                                                      c.cell) AS r
                   FROM v0 v CROSS JOIN {prev} c)
                 WHERE r = 1),
    cupd{j} AS (SELECT cell, i,
                       CAST(SUM(qv[CAST(i AS INT)]) // COUNT(*) AS BIGINT) AS cval
                FROM casgn{j} CROSS JOIN (SELECT UNNEST(range(1, {dim + 1})) AS i)
                GROUP BY cell, i),
    cnew{j} AS (SELECT cell,
                       list_transform(list(cval ORDER BY i), x -> CAST(x AS DOUBLE)) AS cvd
                FROM cupd{j} GROUP BY cell),
    ccents{j} AS (SELECT p.cell, COALESCE(n.cvd, p.cvd) AS cvd
                  FROM {prev} p LEFT JOIN cnew{j} n USING (cell))""")
    blocks.append(f"{out_name} AS (SELECT cell, cvd FROM ccents{n_iters})")
    return ",\n    ".join(blocks)


def _ivfpq_oracle(
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    m: int = 16,
    dsub: int = 4,
    n_cent: int = 64,
    stride: int = 7,
    train_cells_iters: int = 0,
) -> str:
    """Replay of operators.similarity.ivfpq_topk: same L2 cell assignment
    (exact double identity), same probe set, same PQ codes and ADC sums.
    ``train_cells_iters``: replay train_ivf_centroids for the coarse cells
    first (:func:`_trained_cells_sql`) instead of stride seeds."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    cell_d2 = d2.format(a="v.qvd", b="c.cvd")
    pq_d2 = d2.format(a="s.sv", b="c.cv")
    if train_cells_iters:
        cells_sql = _trained_cells_sql(cell_stride, n_cells, train_cells_iters)
    else:
        cells_sql = f"""ccents AS (SELECT CAST(vec_id // {cell_stride} AS BIGINT) AS cell, qvd AS cvd
               FROM v0 WHERE vec_id % {cell_stride} = 0 AND vec_id // {cell_stride} < {n_cells})"""
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    v0 AS (SELECT vec_id, qv, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM q),
    {cells_sql},
    crank AS (SELECT vec_id, cell, r FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {cell_d2}, c.cell) AS r
                FROM v0 v CROSS JOIN ccents c)),
    corpcell AS (SELECT vec_id, cell FROM crank WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM crank WHERE r <= {n_probe} AND vec_id < 10),
    sub AS (SELECT vec_id, CAST(s AS BIGINT) AS sub,
                   list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                  x -> CAST(x AS DOUBLE)) AS sv
            FROM q CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    pcents AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
               FROM sub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    asgn AS (SELECT s.vec_id, s.sub, c.code, {pq_d2} AS d2
             FROM sub s JOIN pcents c USING (sub)),
    codes AS (SELECT vec_id, sub, code
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d2, code) AS r FROM asgn)
              WHERE r = 1),
    lut AS (SELECT vec_id AS query_id, sub, code, d2 AS d2q FROM asgn WHERE vec_id < 10),
    scored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                      CAST(SUM(l.d2q) AS BIGINT) AS approx_d2
               FROM codes c
               JOIN corpcell cc ON cc.vec_id = c.vec_id
               JOIN probes p ON p.cell = cc.cell
               JOIN lut l ON l.sub = c.sub AND l.code = c.code
                         AND l.query_id = p.query_id
               WHERE l.query_id <> c.vec_id
               GROUP BY 1, 2)
    SELECT query_id, neighbor_id, approx_d2, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


#: integer squared-L2 over DOUBLE lists (values are exact integers well
#: under 2^53, so the cast is lossless) — shared by every PQ oracle
_PQ_D2_SQL = (
    "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}) AS BIGINT)"
)


def _pq_train_chain_sql(
    dsub: int, stride: int, n_cent: int, m: int, n_iters: int,
    prefix: str = "",
) -> tuple[list[str], str]:
    """The per-subspace Lloyd training chain (trasgn/trbest/trupd/trnew/
    pcents blocks, one per pass) + the final codebook CTE name — factored
    out of :func:`_ivfpq_trained_oracle` so the reconstruction-error gate
    (x136) replays the IDENTICAL training text (stride seeds, argmin
    ties (d2, code), truncating-integer-division means, empty-cell
    keep).  Callers must provide the ``{prefix}sub`` and
    ``{prefix}pcents0`` CTEs.  ``prefix`` namespaces every CTE so two
    chains (e.g. x140's raw vs rotated arms) compose in ONE oracle."""
    pq_d2 = _PQ_D2_SQL.format(a="s.sv", b="c.cv")
    p = prefix
    train = []
    for j in range(1, n_iters + 1):
        prev = f"{p}pcents0" if j == 1 else f"{p}pcents{j - 1}"
        train.append(f"""
    {p}trasgn{j} AS (SELECT s.vec_id, s.sub, s.svq, c.code, {pq_d2} AS d2
                  FROM {p}sub s JOIN {prev} c USING (sub)),
    {p}trbest{j} AS (SELECT vec_id, sub, svq, code
                  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY d2, code) AS r
                        FROM {p}trasgn{j})
                  WHERE r = 1),
    {p}trupd{j} AS (SELECT sub, code, i,
                        CAST(SUM(svq[CAST(i AS INT)]) // COUNT(*) AS BIGINT) AS cval
                 FROM {p}trbest{j} CROSS JOIN (SELECT UNNEST(range(1, {dsub + 1})) AS i)
                 GROUP BY sub, code, i),
    {p}trnew{j} AS (SELECT sub, code,
                        list_transform(list(cval ORDER BY i), x -> CAST(x AS DOUBLE)) AS cv
                 FROM {p}trupd{j} GROUP BY sub, code),
    {p}pcents{j} AS (SELECT p.sub, p.code, COALESCE(n.cv, p.cv) AS cv
                  FROM {prev} p LEFT JOIN {p}trnew{j} n USING (sub, code))""")
    return train, f"{p}pcents{n_iters}"


def _ivfpq_trained_oracle(
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    m: int = 16,
    dsub: int = 4,
    n_cent: int = 64,
    stride: int = 7,
    n_iters: int = 4,
    train_cells_iters: int = 0,
) -> str:
    """Replay of ivfpq_topk with TRAINED PQ codebooks
    (similarity.train_pq_codebooks at ``n_iters`` Lloyd passes): stride
    seeds -> per-(vec, sub) argmin assignment -> truncating-integer-division
    component means -> empty-cell keep, unrolled one CTE block per pass —
    the x52-oracle discipline applied to the per-subspace codebook trainer.
    By default cells stay stride-seeded (x61's posture: at LOW probe
    budgets training the cells rebalances probes and measurably LOWERS
    recall on this uniform corpus); ``train_cells_iters`` replays
    train_ivf_centroids for the coarse stage too (:func:`_trained_cells_sql`)
    — the x77 fully-trained serving configuration, where the 12-probe
    budget turns the rebalance into a coverage win."""
    d2 = _PQ_D2_SQL
    cell_d2 = d2.format(a="v.qvd", b="c.cvd")
    pq_d2 = d2.format(a="s.sv", b="c.cv")
    train, final = _pq_train_chain_sql(dsub, stride, n_cent, m, n_iters)
    if train_cells_iters:
        cells_sql = _trained_cells_sql(cell_stride, n_cells, train_cells_iters)
    else:
        cells_sql = f"""ccents AS (SELECT CAST(vec_id // {cell_stride} AS BIGINT) AS cell, qvd AS cvd
               FROM v0 WHERE vec_id % {cell_stride} = 0 AND vec_id // {cell_stride} < {n_cells})"""
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    v0 AS (SELECT vec_id, qv, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM q),
    {cells_sql},
    crank AS (SELECT vec_id, cell, r FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {cell_d2}, c.cell) AS r
                FROM v0 v CROSS JOIN ccents c)),
    corpcell AS (SELECT vec_id, cell FROM crank WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM crank WHERE r <= {n_probe} AND vec_id < 10),
    sub AS (SELECT vec_id, CAST(s AS BIGINT) AS sub,
                   qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)] AS svq,
                   list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                  x -> CAST(x AS DOUBLE)) AS sv
            FROM q CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    pcents0 AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
                FROM sub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    {",".join(train)},
    asgn AS (SELECT s.vec_id, s.sub, c.code, {pq_d2} AS d2
             FROM sub s JOIN {final} c USING (sub)),
    codes AS (SELECT vec_id, sub, code
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d2, code) AS r FROM asgn)
              WHERE r = 1),
    lut AS (SELECT vec_id AS query_id, sub, code, d2 AS d2q FROM asgn WHERE vec_id < 10),
    scored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                      CAST(SUM(l.d2q) AS BIGINT) AS approx_d2
               FROM codes c
               JOIN corpcell cc ON cc.vec_id = c.vec_id
               JOIN probes p ON p.cell = cc.cell
               JOIN lut l ON l.sub = c.sub AND l.code = c.code
                         AND l.query_id = p.query_id
               WHERE l.query_id <> c.vec_id
               GROUP BY 1, 2)
    SELECT query_id, neighbor_id, approx_d2, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


def _ivfpq_residual_oracle(
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    m: int = 16,
    dsub: int = 4,
    n_cent: int = 64,
    stride: int = 7,
    dim: int = 64,
    train_cells_iters: int = 0,
    n_iters: int = 0,
) -> str:
    """Replay of similarity.ivfpq_residual_topk — IVFPQ with RESIDUAL
    encoding: after the (optionally trained) coarse assignment, PQ
    quantizes ``vector - cell_centroid``; the query's residual depends on
    the probed cell, so the ADC LUT is keyed per (query, cell, sub,
    code).  Codebooks are stride-seeded over the residual subvectors and
    optionally Lloyd-trained ``n_iters`` passes with the same
    truncating-integer-division update as the raw-vector trainer."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    cell_d2 = d2.format(a="v.qvd", b="c.cvd")
    pq_d2 = d2.format(a="s.sv", b="c.cv")
    qq_d2 = d2.format(a="q.sv", b="c.cv")
    if train_cells_iters:
        cells_sql = _trained_cells_sql(cell_stride, n_cells, train_cells_iters)
    else:
        cells_sql = f"""ccents AS (SELECT CAST(vec_id // {cell_stride} AS BIGINT) AS cell, qvd AS cvd
               FROM v0 WHERE vec_id % {cell_stride} = 0 AND vec_id // {cell_stride} < {n_cells})"""
    train = []
    for j in range(1, n_iters + 1):
        prev = "rcents0" if j == 1 else f"rcents{j - 1}"
        train.append(f"""
    rtasgn{j} AS (SELECT s.vec_id, s.sub, s.svq, c.code, {pq_d2} AS d2
                  FROM rsub s JOIN {prev} c USING (sub)),
    rtbest{j} AS (SELECT vec_id, sub, svq, code
                  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY d2, code) AS r
                        FROM rtasgn{j})
                  WHERE r = 1),
    rtupd{j} AS (SELECT sub, code, i,
                        CAST(SUM(svq[CAST(i AS INT)]) // COUNT(*) AS BIGINT) AS cval
                 FROM rtbest{j} CROSS JOIN (SELECT UNNEST(range(1, {dsub + 1})) AS i)
                 GROUP BY sub, code, i),
    rtnew{j} AS (SELECT sub, code,
                        list_transform(list(cval ORDER BY i), x -> CAST(x AS DOUBLE)) AS cv
                 FROM rtupd{j} GROUP BY sub, code),
    rcents{j} AS (SELECT p.sub, p.code, COALESCE(n.cv, p.cv) AS cv
                  FROM {prev} p LEFT JOIN rtnew{j} n USING (sub, code))""")
    final = f"rcents{n_iters}"
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    v0 AS (SELECT vec_id, qv, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM q),
    {cells_sql},
    crank AS (SELECT vec_id, cell, r FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {cell_d2}, c.cell) AS r
                FROM v0 v CROSS JOIN ccents c)),
    corpcell AS (SELECT vec_id, cell FROM crank WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM crank WHERE r <= {n_probe} AND vec_id < 10),
    cres AS (SELECT v.vec_id, cc.cell,
                    list_transform(range(1, {dim + 1}),
                      i -> v.qv[CAST(i AS INT)] - CAST(c.cvd[CAST(i AS INT)] AS BIGINT)) AS rv
             FROM corpcell cc JOIN v0 v USING (vec_id) JOIN ccents c USING (cell)),
    qres AS (SELECT p.query_id, p.cell,
                    list_transform(range(1, {dim + 1}),
                      i -> v.qv[CAST(i AS INT)] - CAST(c.cvd[CAST(i AS INT)] AS BIGINT)) AS rv
             FROM probes p JOIN v0 v ON v.vec_id = p.query_id
             JOIN ccents c ON c.cell = p.cell),
    rsub AS (SELECT vec_id, cell, CAST(s AS BIGINT) AS sub,
                    rv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)] AS svq,
                    list_transform(rv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                   x -> CAST(x AS DOUBLE)) AS sv
             FROM cres CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    rcents0 AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
                FROM rsub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    {",".join(train) + "," if train else ""}
    rasgn AS (SELECT s.vec_id, s.cell, s.sub, c.code, {pq_d2} AS d2
              FROM rsub s JOIN {final} c USING (sub)),
    rcodes AS (SELECT vec_id, cell, sub, code
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                  ORDER BY d2, code) AS r FROM rasgn)
               WHERE r = 1),
    qsub AS (SELECT query_id, cell, CAST(s AS BIGINT) AS sub,
                    list_transform(rv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                   x -> CAST(x AS DOUBLE)) AS sv
             FROM qres CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    rlut AS (SELECT q.query_id, q.cell, q.sub, c.code, {qq_d2} AS d2q
             FROM qsub q JOIN {final} c USING (sub)),
    rscored AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                       CAST(SUM(l.d2q) AS BIGINT) AS approx_d2
                FROM rcodes c
                JOIN rlut l ON l.cell = c.cell AND l.sub = c.sub AND l.code = c.code
                WHERE l.query_id <> c.vec_id
                GROUP BY 1, 2)
    SELECT query_id, neighbor_id, approx_d2, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rn
          FROM rscored)
    WHERE rn <= {k}
    """


@register("x55_ivfpq_ann", oracle=_ivfpq_oracle(), tags=("similarity", "ann", "ivf", "pq"))
def x55_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ stacked approximate top-5 — the FAISS IVFPQ composition and
    the billion-scale default: a 16-cell coarse quantizer prunes WHICH
    vectors each query scores (4 probes), PQ compresses HOW (ADC over 16
    codebook ids from a broadcast LUT).  Cell pruning and code compression
    compose multiplicatively: candidate volume drops ~4x while the per-
    candidate cost drops from a 64-dim dot product to 16 LUT adds."""
    from hiveka_spark.operators.similarity import ivfpq_topk

    e = table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, n_cells=16, n_probe=4, cell_stride=31,
        m=16, dim=64, n_centroids=64, centroid_stride=7,
    )


# ---------------------------------------------------------------------------
# x56 — salted shuffle join (hot-key splitting)
# ---------------------------------------------------------------------------


@register(
    "x56_salted_join",
    oracle="""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
               FROM events GROUP BY user_id)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(u.user_events) AS BIGINT) AS sum_user_activity
    FROM events e JOIN u USING (user_id)
    GROUP BY e.event_type
    """,
    tags=("join", "skew", "salting"),
)
def x56_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe shuffle join as a gate entry: enrich each event with its
    user's total activity via operators.skew.salted_join — left rows get a
    row-hash salt, the (small) right side is replicated per salt value, and
    the join key becomes (user_id, salt), so one dominant user's rows fan
    out across salt_n reducers instead of melting a single task.  The salt
    only moves work, never the answer — which is exactly what the plain
    unsalted SQL oracle certifies.  (x16 covers salted AGGREGATION; this is
    the salted JOIN, for when the right side is too large to broadcast and
    AQE's runtime skew split can't see the skew — e.g. a first-pass join
    with no stats.)"""
    from hiveka_spark.operators.skew import salted_join

    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("user_events"))
    j = salted_join(e, u, ["user_id"], salt_n=8)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("user_events").cast("bigint").alias("sum_user_activity"),
    )


# ---------------------------------------------------------------------------
# x57 — exact-k-per-group deterministic sample (dev-set carving)
# ---------------------------------------------------------------------------

_K_PER_SOURCE = 5


@register(
    "x57_fixed_k_sample",
    oracle=f"""
    SELECT source, doc_id, h_rank
    FROM (SELECT source, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':devset'),
                                                  doc_id) AS BIGINT) AS h_rank
          FROM documents)
    WHERE h_rank <= {_K_PER_SOURCE}
    """,
    tags=("sampling", "devset", "deterministic"),
)
def x57_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-group deterministic sample — dev/holdout-set carving:
    take EXACTLY {_K_PER_SOURCE} documents per source, chosen by ranking on
    an md5 of the id + a salt tag.  Complements x23 (rate-based stratified
    sampling): rates give you proportions, this gives fixed-size per-stratum
    sets that are stable across reruns AND across engines (the hash order is
    data-derived, so adding new documents to a source does not reshuffle
    which old ones were picked beyond the insertion points — unlike
    RAND()-seeded sampling, which is partition-order-dependent and
    irreproducible in Spark).

    Scale shape: one shuffle keyed on the stratum; the rank is a per-group
    sort of (16-byte hash, id) pairs.  For millions of groups this is the
    standard plan; for a FEW huge groups you'd pre-filter with a hash-prefix
    predicate (keep only rows whose md5 starts below a bound ~ k/n) to cut
    the sorted volume — the x23 trick composed in front of this one."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":devset")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("h_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("h_rank") <= _K_PER_SOURCE)
    )


# ---------------------------------------------------------------------------
# x58 — asymmetric shingle containment (excerpt detection)
# ---------------------------------------------------------------------------


@register(
    "x58_shingle_containment",
    oracle="""
    WITH w AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
               FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS s
           FROM (SELECT doc_id, ws, UNNEST(generate_series(1, GREATEST(LEN(ws) - 4, 1))) AS i
                 FROM w)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           CAST(FLOOR(i * 10000.0 / sa.n) AS BIGINT) / 10000.0 AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE CAST(FLOOR(i * 10000.0 / sa.n) AS BIGINT) / 10000.0 >= 0.6
    """,
    tags=("dedup", "containment", "excerpt"),
)
def x58_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A in B) = |sh(A) n sh(B)| / |sh(A)| >= 0.6
    over word-5-gram shingles — excerpt/quotation detection, the subset-
    duplication case Jaccard dedup (x02) systematically misses (a short doc
    inside a long one has high containment but low Jaccard).  Candidates
    come from a ONE-SIDED rarity-prefix filter on the contained side plus a
    one-sided length filter; the oracle computes the exact all-pairs answer,
    so a green row proves the prefix filter is LOSSLESS, not just fast.
    `operators/dedup.py::shingle_containment_pairs`."""
    from hiveka_spark.operators.dedup import shingle_containment_pairs

    d = table(spark, sf_dir, "documents")
    return shingle_containment_pairs(d, "doc_id", "text", k=5, threshold=0.6)


# ---------------------------------------------------------------------------
# x59 — sparse TF-IDF document similarity (text-space top-k)
# ---------------------------------------------------------------------------

_TFIDF_SCALE = 100000  # weight quantization: keeps all norms/dots < 2^53


@register(
    "x59_tfidf_doc_similarity",
    oracle=f"""
    WITH t AS (SELECT doc_id, UNNEST(list_filter(string_split(LOWER(text), ' '), x -> x <> ''))
                 AS term
               FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    wgt AS (SELECT doc_id, term,
                   CAST(FLOOR(tf * {_TFIDF_SCALE}.0 / dfreq) AS BIGINT) AS w
            FROM tf JOIN dfq USING (term)),
    nrm AS (SELECT doc_id, SUM(w * w) AS n2 FROM wgt GROUP BY 1),
    dots AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                    SUM(q.w * c.w) AS dot
             FROM wgt q JOIN wgt c USING (term)
             WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
             GROUP BY 1, 2),
    scored AS (SELECT query_id, neighbor_id,
                      CAST(FLOOR(dot / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                                 * 10000.0) AS BIGINT) / 10000.0 AS cosine
               FROM dots
               JOIN nrm nq ON nq.doc_id = query_id
               JOIN nrm nc ON nc.doc_id = neighbor_id)
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "tfidf", "sparse", "search"),
)
def x59_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-5 — text-space document similarity, the
    postings-join complement to the dense-embedding ANN family (x06/x07/
    x15/x48/x55): documents are sparse vectors over the vocabulary, weights
    are rational tf/df in integer micro-units (log-free idf, same discipline
    as x27/x35 — division is engine-exact where ln is not), and the dot
    product is an equi-join on the TERM with a (query, doc)-keyed sum —
    sparse similarity never materializes vectors, so corpus cost scales with
    postings, not vocabulary x docs.

    Scale shape: tf aggregate (map-side combined), vocabulary-sized df
    frame joined back on term (hot terms bounded by the vocab side), query
    postings broadcast (|Q| docs' terms), one keyed dot aggregate, norm
    join, rank.  Weights are floor-quantized at 1e5 so every norm and dot
    stays under 2^53 — the bigint sums are exact and the final cosine is
    one deterministic IEEE expression per pair."""
    from hiveka_spark.operators.dedup import _persist_tracked

    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    # four branches read the weighted postings (norms, query side, dot join);
    # persist so tokenize + tf + df runs once (scope-aware, CacheManager
    # dedupes repeat invocations — same discipline as dedup._shingle_sets)
    wgt = _persist_tracked(
        tf.join(dfq, "term").select(
            "doc_id",
            "term",
            F.floor(F.col("tf") * float(_TFIDF_SCALE) / F.col("dfreq"))
            .cast("bigint")
            .alias("w"),
        )
    )
    nrm = wgt.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    q = wgt.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "term", F.col("w").alias("wq")
    )
    dots = (
        wgt.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.sum(F.col("w") * F.col("wq")).alias("dot"))
    )
    nq = nrm.select(F.col("doc_id").alias("query_id"), F.col("n2").alias("nq2"))
    nc = nrm.select(F.col("doc_id").alias("neighbor_id"), F.col("n2").alias("nc2"))
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nc, "neighbor_id")
        .withColumn(
            "cosine",
            F.floor(
                F.col("dot")
                / (F.sqrt(F.col("nq2").cast("double")) * F.sqrt(F.col("nc2").cast("double")))
                * 10000.0
            )
            / 10000.0,
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# x61 — ANN recall as a certified (hash-checked) number
# ---------------------------------------------------------------------------


def _ann_recall_oracle(k: int = 5) -> str:
    """exact-L2 ground truth + both compressed indexes' result sets, all
    replayed in DuckDB (the PQ/IVFPQ subqueries are the x48/x55 oracles
    verbatim, scoped as derived tables), intersected per query."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    return f"""
    WITH eq AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
                FROM embeddings),
    ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM eq),
    exact AS (SELECT query_id, neighbor_id FROM (
                SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY qr.vec_id
                         ORDER BY {d2.format(a="qr.qvd", b="c.qvd")}, c.vec_id) AS rn
                FROM ev qr JOIN ev c ON qr.vec_id <> c.vec_id
                WHERE qr.vec_id < 10)
              WHERE rn <= {k}),
    pqr AS (SELECT query_id, neighbor_id FROM ({_pq_oracle(k=k)})),
    ivfr AS (SELECT query_id, neighbor_id FROM ({_ivfpq_oracle(k=k)})),
    ivtr AS (SELECT query_id, neighbor_id FROM ({_ivfpq_trained_oracle(k=k, n_iters=1)})),
    hits_pq AS (SELECT p.query_id, COUNT(*) AS n
                FROM pqr p JOIN exact e USING (query_id, neighbor_id)
                GROUP BY 1),
    hits_iv AS (SELECT i.query_id, COUNT(*) AS n
                FROM ivfr i JOIN exact e USING (query_id, neighbor_id)
                GROUP BY 1),
    hits_tr AS (SELECT t.query_id, COUNT(*) AS n
                FROM ivtr t JOIN exact e USING (query_id, neighbor_id)
                GROUP BY 1)
    SELECT q.query_id,
           CAST({k} AS BIGINT) AS k,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS pq_hits,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS ivfpq_hits,
           CAST(COALESCE(t.n, 0) AS BIGINT) AS ivfpq_trained_hits
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits_pq p USING (query_id)
    LEFT JOIN hits_iv v USING (query_id)
    LEFT JOIN hits_tr t USING (query_id)
    """


@register(
    "x61_ann_recall",
    oracle=_ann_recall_oracle(),
    tags=("similarity", "ann", "recall", "certification"),
)
def x61_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the compressed ANN indexes as a CERTIFIED output, not
    docstring prose: per query, how many of PQ's (x48) and IVFPQ's (x55)
    top-5 fall inside the exact squared-L2 top-5.  Ground truth is L2, the
    metric ADC approximates (x06's cosine would conflate quantization loss
    with metric mismatch on unnormalized vectors).  Everything — exact
    ranks, codebook assignments, ADC sums, the intersection counts — is
    integer-exact and deterministic given the fixed stride codebooks, so
    the driver hash-checks the recall itself.

    The honest numbers on this worst-case corpus (uniform unit-sphere-ish
    vectors, stride codebooks): PQ recall@5 = 0.40 and IVFPQ 0.40 at
    sf0.01 — exactly the offline-codebook posture x48/x55 document; with
    trained (k-means||, x52-path) codebooks recall rises with no plan
    change.

    Scale shape: ground truth is the one brute-force pass (10 broadcast
    queries x corpus — linear, the certification cost); the index sides
    reuse x48/x55's plans unchanged; intersections are id-only joins on
    50-row frames."""
    from hiveka_spark.operators.similarity import (
        ivfpq_topk,
        pq_subvectors_shared,
        pq_topk,
        train_pq_codebooks,
        with_quantized_norm,
    )

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    k = 5

    # exact squared-L2 top-k: broadcast queries, bigint d2, (d2, id) rank
    c = with_quantized_norm(e, "embedding").select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cvec")
    )
    qv = with_quantized_norm(qs, "embedding").select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qqvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qqvec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        c.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )

    pq = pq_topk(
        e, qs, "vec_id", "embedding",
        k=k, m=16, dim=64, n_centroids=64, centroid_stride=7,
    ).select("query_id", "neighbor_id")
    # NOTE: both IVFPQ arms could share one materialized coarse-cell stage
    # (ivf_cell_stage + the cell_stage= seam), but at this scale the cell
    # pass (n x 16 L2) is cheap next to the PQ encode (n x m x 64) and the
    # checkpoint barriers cost MORE than the saved recompute — measured
    # 16.7s shared vs 12.4s inline at sf0.1.  The seam pays when the
    # coarse stage dominates (large n_cells, no PQ, many indexes); here
    # the arms stay inline.
    iv = ivfpq_topk(
        e, qs, "vec_id", "embedding",
        k=k, n_cells=16, n_probe=4, cell_stride=31,
        m=16, dim=64, n_centroids=64, centroid_stride=7,
    ).select("query_id", "neighbor_id")
    # trained arm: ONE distributed Lloyd pass over the PQ codebooks (the
    # round-6 train_pq_codebooks seam) — already +2 recall points over the
    # stride seeds here (0.42 vs 0.40 at sf0.01; deeper training keeps
    # climbing, 0.50 at 4 passes on the smoke fixture, pinned in
    # tests/test_curation_ext.py).  Cells stay stride-seeded: training the
    # cells rebalances probes and measurably LOWERS recall on this uniform
    # corpus (0.38 vs 0.40 at sf0.01, 4 passes), exactly the codebook-
    # sensitivity posture the ivfpq docstring documents.  The whole
    # training replay is inside the DuckDB oracle, so the recall uplift is
    # hash-certified.
    # r17: the trainer reads the ONE materialized id-partitioned subvector
    # frame (the r16 x84/x136/x140 seam, missed here): the Lloyd pass's
    # argmin aggregate is exchange-free and the scan+quantize+split is not
    # replayed under both the assignment and the seed sides — measured
    # 4.6s -> 1.2s warm at sf0.1 with bit-identical codebooks.  The ADC
    # arms stay inline per the coarse-stage note above.
    cb = train_pq_codebooks(
        e, "vec_id", "embedding", m=16, dim=64,
        n_centroids=64, centroid_stride=7, n_iters=1,
        subvectors=pq_subvectors_shared(e, "vec_id", "embedding", m=16, dim=64),
    )
    tr = ivfpq_topk(
        e, qs, "vec_id", "embedding",
        k=k, n_cells=16, n_probe=4, cell_stride=31,
        m=16, dim=64, n_centroids=64, codebooks=cb,
    ).select("query_id", "neighbor_id")

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    return (
        exact.select("query_id")
        .distinct()
        .join(hits(pq, "pq_hits"), "query_id", "left")
        .join(hits(iv, "ivfpq_hits"), "query_id", "left")
        .join(hits(tr, "ivfpq_trained_hits"), "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("bigint").alias("k"),
            F.coalesce("pq_hits", F.lit(0)).cast("bigint").alias("pq_hits"),
            F.coalesce("ivfpq_hits", F.lit(0)).cast("bigint").alias("ivfpq_hits"),
            F.coalesce("ivfpq_trained_hits", F.lit(0))
            .cast("bigint")
            .alias("ivfpq_trained_hits"),
        )
    )


# ---------------------------------------------------------------------------
# x77 — ANN recall-vs-n_probe curve + serving-grade (>=0.8) certified arm
# ---------------------------------------------------------------------------

_X77_PROBES = (1, 4, 8, 12)
_X77_MAX_PROBE = 12
_X77_POOL = 32


def _x77_oracle(k: int = 5, n_cells: int = 16, cell_stride: int = 31) -> str:
    """Exact L2 ground truth + every UNTRAINED arm replayed: the IVF-exact
    candidate table once at the max probe budget (arms are probe_rank
    filters over it, exactly like the operator), the IVFPQ ADC pool via
    the x55 oracle at k=pool/n_probe=12, and the rerank arm re-scoring
    that pool with exact d2.  The trained/residual arms live in x84's
    oracle (round-10 verdict #4: the curve and the training certification
    have different change frequencies and are now separate gates)."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    probes_vals = ", ".join(f"({p})" for p in _X77_PROBES)
    denom = 10 * k  # 10 fixed queries x k
    return f"""
    WITH eq AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
                FROM embeddings),
    ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM eq),
    exact AS (SELECT query_id, neighbor_id FROM (
                SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY qr.vec_id
                         ORDER BY {d2.format(a="qr.qvd", b="c.qvd")}, c.vec_id) AS rn
                FROM ev qr JOIN ev c ON qr.vec_id <> c.vec_id
                WHERE qr.vec_id < 10)
              WHERE rn <= {k}),
    ccents AS (SELECT CAST(vec_id // {cell_stride} AS BIGINT) AS cell, qvd AS cvd
               FROM ev WHERE vec_id % {cell_stride} = 0
                         AND vec_id // {cell_stride} < {n_cells}),
    crank AS (SELECT vec_id, cell, r FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {d2.format(a="v.qvd", b="c.cvd")},
                                                   c.cell) AS r
                FROM ev v CROSS JOIN ccents c)),
    corpcell AS (SELECT vec_id, cell FROM crank WHERE r = 1),
    qprobe AS (SELECT vec_id AS query_id, cell, r AS probe_rank
               FROM crank WHERE r <= {_X77_MAX_PROBE} AND vec_id < 10),
    cand AS (SELECT p.query_id, cc.vec_id AS neighbor_id, p.probe_rank,
                    {d2.format(a="q.qvd", b="v.qvd")} AS d2
             FROM qprobe p
             JOIN corpcell cc USING (cell)
             JOIN ev v ON v.vec_id = cc.vec_id
             JOIN ev q ON q.vec_id = p.query_id
             WHERE p.query_id <> cc.vec_id),
    ivf_arms AS (SELECT np, query_id, neighbor_id FROM (
                   SELECT np.np, c.query_id, c.neighbor_id,
                          ROW_NUMBER() OVER (PARTITION BY np.np, c.query_id
                                             ORDER BY c.d2, c.neighbor_id) AS rn
                   FROM (VALUES {probes_vals}) np(np)
                   JOIN cand c ON c.probe_rank <= np.np)
                 WHERE rn <= {k}),
    ivf_hits AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS hits
                 FROM ivf_arms a JOIN exact e USING (query_id, neighbor_id)
                 GROUP BY np),
    pool AS (SELECT query_id, neighbor_id, rank
             FROM ({_ivfpq_oracle(k=_X77_POOL, n_probe=_X77_MAX_PROBE)})),
    adc5 AS (SELECT query_id, neighbor_id FROM pool WHERE rank <= {k}),
    rr AS (SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY p.query_id
                                       ORDER BY {d2.format(a="q.qvd", b="v.qvd")},
                                                p.neighbor_id) AS rn
             FROM pool p
             JOIN ev v ON v.vec_id = p.neighbor_id
             JOIN ev q ON q.vec_id = p.query_id)
           WHERE rn <= {k}),
    spine AS (
      SELECT 'ivf_exact' AS arm, CAST(np AS BIGINT) AS n_probe,
             CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits
      FROM (VALUES {probes_vals}) np(np) LEFT JOIN ivf_hits h USING (np)
      UNION ALL
      SELECT 'ivfpq_adc', {_X77_MAX_PROBE},
             CAST((SELECT COUNT(*) FROM adc5 JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT)
      UNION ALL
      SELECT 'ivfpq_rerank', {_X77_MAX_PROBE},
             CAST((SELECT COUNT(*) FROM rr JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT))
    SELECT arm, n_probe, hits, CAST({denom} AS BIGINT) AS denom,
           CAST(hits * 1000000 // {denom} AS BIGINT) AS recall_micro
    FROM spine
    """



def _ann_exact_topk(e, qs, k: int):
    """Exact bigint-L2 ground-truth top-k (broadcast query set, (d2,
    neighbor_id) tie-break), checkpointed — consumed by every arm of the
    recall gates x77 and x84, existing ONCE so the ground-truth definition
    cannot drift between the split halves."""
    from hiveka_spark.operators.similarity import with_quantized_norm

    c = with_quantized_norm(e, "embedding").select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cvec")
    )
    qv = with_quantized_norm(qs, "embedding").select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qqvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qqvec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        c.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )


def _ann_recall_table(spark, arm_frames, exact, spine_rows, denom: int):
    """Union the arm frames, score hits against the exact ground truth, and
    left-join onto the declared spine so silent arms report 0 — the shared
    tail of the recall gates (integer-exact hits/denom/micro recall)."""
    all_arms = arm_frames[0]
    for f in arm_frames[1:]:
        all_arms = all_arms.unionByName(f)
    hits = (
        all_arms.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("arm", "n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    spine = spark.createDataFrame(spine_rows, "arm string, n_probe bigint")
    return spine.join(hits, ["arm", "n_probe"], "left").select(
        "arm",
        "n_probe",
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        F.lit(denom).cast("bigint").alias("denom"),
        F.expr(f"coalesce(hits, 0) * 1000000 DIV {denom}")
        .cast("bigint")
        .alias("recall_micro"),
    )


@register(
    "x77_ann_recall_curve",
    oracle=_x77_oracle(),
    tags=("similarity", "ann", "recall", "nprobe", "certification"),
)
def x77_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-grade ANN recall, certified as a measured CURVE: x61 showed
    recall@5 = 0.40-0.42 for the compressed indexes at n_probe=4 — this
    entry certifies both UNTRAINED knobs that buy it back.  (a) IVF with
    EXACT in-cell distances swept over n_probe (1/4/8/12 of 16 cells):
    loss is coarse-probe misses only, so the curve is monotone — measured
    0.24 / 0.56 / 0.70 / 0.84 at sf0.01, with the 12-probe arm >= 0.8.
    (b) the two-stage serving shape: IVFPQ ADC generates a 32-candidate
    pool at n_probe=12, exact bigint-L2 RERANKS it to top-5
    (similarity.py::exact_rerank) — 0.82 vs 0.46 for the same pool
    consumed ADC-only, i.e. rerank recovers what quantization error gives
    up, bounded only by pool coverage (the ivf_exact@12 arm).  One
    candidates join serves all four stride IVF arms (probe_rank is
    carried, arms are filters); the ADC pool is computed once and
    consumed by both its adc/rerank consumers.  Every number is
    integer-exact (hits, denom, recall in micro-units) — the driver
    hash-certifies the curve itself.

    Round 11 split this entry (round-10 verdict #4): the TRAINED arms
    (trained cells, trained+fully-trained pool/rerank configurations, the
    round-11 residual-encoding arm) now live in x84_ann_trained_cert —
    the cheap per-round curve and the expensive training certification
    have different change frequencies, so they carry separate floors."""
    from hiveka_spark.operators.similarity import (
        exact_rerank,
        ivf_exact_candidates,
        ivfpq_topk,
    )

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    k = 5
    denom = 10 * k

    exact = _ann_exact_topk(e, qs, k)  # consumed by all arms

    cand = ivf_exact_candidates(
        e, qs, "vec_id", "embedding",
        n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
    ).localCheckpoint(eager=True)  # one candidates join serves all IVF arms
    wk = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    arm_frames = [
        cand.filter(F.col("probe_rank") <= p)
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select(
            F.lit("ivf_exact").alias("arm"),
            F.lit(p).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
        for p in _X77_PROBES
    ]

    pool = ivfpq_topk(
        e, qs, "vec_id", "embedding",
        k=_X77_POOL, n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
        m=16, dim=64, n_centroids=64, centroid_stride=7,
    ).localCheckpoint(eager=True)  # consumed by the adc AND rerank arms
    arm_frames.append(
        pool.filter(F.col("rank") <= k).select(
            F.lit("ivfpq_adc").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    )
    arm_frames.append(
        exact_rerank(e, qs, pool, "vec_id", "embedding", k=k).select(
            F.lit("ivfpq_rerank").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    )

    return _ann_recall_table(
        spark,
        arm_frames,
        exact,
        [("ivf_exact", p) for p in _X77_PROBES]
        + [("ivfpq_adc", _X77_MAX_PROBE), ("ivfpq_rerank", _X77_MAX_PROBE)],
        denom,
    )


# ---------------------------------------------------------------------------
# x84 — TRAINED ANN serving certification (split from x77) + residual arm
# ---------------------------------------------------------------------------

_X84_RES_POOL = 40  # residual ADC pool (vs _X77_POOL=32 for raw-vector ADC)


def _x84_oracle(k: int = 5, n_cells: int = 16, cell_stride: int = 31) -> str:
    """Exact L2 ground truth + every TRAINED arm replayed: trained coarse
    cells (one Lloyd pass, _trained_cells_sql), the trained and
    fully-trained ADC pools via _ivfpq_oracle/_ivfpq_trained_oracle, and
    the round-11 RESIDUAL-encoding pool via _ivfpq_residual_oracle — each
    pool exact-reranked to top-k before scoring against the ground
    truth."""
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    denom = 10 * k
    return f"""
    WITH eq AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
                FROM embeddings),
    ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd FROM eq),
    exact AS (SELECT query_id, neighbor_id FROM (
                SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY qr.vec_id
                         ORDER BY {d2.format(a="qr.qvd", b="c.qvd")}, c.vec_id) AS rn
                FROM ev qr JOIN ev c ON qr.vec_id <> c.vec_id
                WHERE qr.vec_id < 10)
              WHERE rn <= {k}),
    v0 AS (SELECT eq.vec_id, eq.qv, ev.qvd FROM eq JOIN ev USING (vec_id)),
    {_trained_cells_sql(cell_stride, n_cells, 1, out_name="tcents")},
    tcrank AS (SELECT vec_id, cell, r FROM (
                 SELECT v.vec_id, c.cell,
                        ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                           ORDER BY {d2.format(a="v.qvd", b="c.cvd")},
                                                    c.cell) AS r
                 FROM ev v CROSS JOIN tcents c)),
    tcorp AS (SELECT vec_id, cell FROM tcrank WHERE r = 1),
    tprobe AS (SELECT vec_id AS query_id, cell FROM tcrank
               WHERE r <= {_X77_MAX_PROBE} AND vec_id < 10),
    tcand AS (SELECT p.query_id, cc.vec_id AS neighbor_id,
                     {d2.format(a="q.qvd", b="v.qvd")} AS d2
              FROM tprobe p
              JOIN tcorp cc USING (cell)
              JOIN ev v ON v.vec_id = cc.vec_id
              JOIN ev q ON q.vec_id = p.query_id
              WHERE p.query_id <> cc.vec_id),
    ttop AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY d2, neighbor_id) AS rn
               FROM tcand)
             WHERE rn <= {k}),
    pool_tr AS (SELECT query_id, neighbor_id
                FROM ({_ivfpq_oracle(k=_X77_POOL, n_probe=_X77_MAX_PROBE, train_cells_iters=1)})),
    rrtr AS (SELECT query_id, neighbor_id FROM (
               SELECT p.query_id, p.neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY p.query_id
                                         ORDER BY {d2.format(a="q.qvd", b="v.qvd")},
                                                  p.neighbor_id) AS rn
               FROM pool_tr p
               JOIN ev v ON v.vec_id = p.neighbor_id
               JOIN ev q ON q.vec_id = p.query_id)
             WHERE rn <= {k}),
    pool_full AS (SELECT query_id, neighbor_id
                  FROM ({_ivfpq_trained_oracle(k=_X77_POOL, n_probe=_X77_MAX_PROBE,
                                               n_iters=2, train_cells_iters=1)})),
    rrfull AS (SELECT query_id, neighbor_id FROM (
                 SELECT p.query_id, p.neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY p.query_id
                                           ORDER BY {d2.format(a="q.qvd", b="v.qvd")},
                                                    p.neighbor_id) AS rn
                 FROM pool_full p
                 JOIN ev v ON v.vec_id = p.neighbor_id
                 JOIN ev q ON q.vec_id = p.query_id)
               WHERE rn <= {k}),
    pool_res AS (SELECT query_id, neighbor_id
                 FROM ({_ivfpq_residual_oracle(k=_X84_RES_POOL, n_probe=_X77_MAX_PROBE,
                                               train_cells_iters=1, n_iters=1)})),
    rrres AS (SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, p.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY p.query_id
                                          ORDER BY {d2.format(a="q.qvd", b="v.qvd")},
                                                   p.neighbor_id) AS rn
                FROM pool_res p
                JOIN ev v ON v.vec_id = p.neighbor_id
                JOIN ev q ON q.vec_id = p.query_id)
              WHERE rn <= {k}),
    spine AS (
      SELECT 'ivf_trained' AS arm, CAST({_X77_MAX_PROBE} AS BIGINT) AS n_probe,
             CAST((SELECT COUNT(*) FROM ttop JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT) AS hits
      UNION ALL
      SELECT 'ivfpq_trained_rerank', {_X77_MAX_PROBE},
             CAST((SELECT COUNT(*) FROM rrtr JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT)
      UNION ALL
      SELECT 'ivfpq_fully_trained', {_X77_MAX_PROBE},
             CAST((SELECT COUNT(*) FROM rrfull JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT)
      UNION ALL
      SELECT 'ivfpq_residual_rerank', {_X77_MAX_PROBE},
             CAST((SELECT COUNT(*) FROM rrres JOIN exact USING (query_id, neighbor_id))
                  AS BIGINT))
    SELECT arm, n_probe, hits, CAST({denom} AS BIGINT) AS denom,
           CAST(hits * 1000000 // {denom} AS BIGINT) AS recall_micro
    FROM spine
    """


@register(
    "x84_ann_trained_cert",
    oracle=_x84_oracle(),
    tags=("similarity", "ann", "recall", "training", "residual", "certification"),
)
def x84_ann_trained_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED ANN serving certification — x77's expensive half, split out
    (round-10 verdict #4) because it changes only when a TRAINER changes
    while the stride curve is the cheap per-round regression probe.  Four
    arms, all at the serving budget (16 cells, 12 probes, k=5):

    - ivf_trained (0.90 at sf0.01): exact in-cell distances over cells
      from ONE Lloyd pass (train_ivf_centroids) — the pool-coverage
      ceiling every compressed arm is bounded by.
    - ivfpq_trained_rerank (0.88): trained cells + raw-vector ADC pool
      (32) + exact rerank — the round-9 serving recommendation.
    - ivfpq_fully_trained (0.88): trained cells AND trained PQ codebooks
      (train_pq_codebooks, 2 passes) under the same pool+rerank shape.
    - ivfpq_residual_rerank (0.88, round 11): PQ codes over RESIDUALS
      (vector - cell centroid; similarity.py::ivfpq_residual_topk — the
      standard FAISS IVFPQ refinement), codebooks stride-seeded over the
      residuals and Lloyd-trained 1 pass, ADC pool 40 + exact rerank.
      On this near-uniform unit-sphere corpus (PQ's worst case: the
      coarse centroids absorb little mass, so residuals are nearly as
      hard as raw vectors) residual ADC ordering is slightly weaker per
      pool slot — the honest measurement — and a 40-slot pool buys the
      same 0.88 as the raw-vector configs at identical probe budget,
      against the 0.90 coverage ceiling.

    ALL trainings (coarse Lloyd pass, PQ codebook passes, residual
    codebook pass) are replayed bit-for-bit in the DuckDB oracle.  The
    trained centroid frame is checkpointed once and consumed by every
    arm; the two raw-vector ADC pools share ONE ivf_cell_stage corpus
    assignment; every number is integer-exact (hits, denom, micro-unit
    recall), so the driver hash-certifies the configuration table
    itself."""
    from hiveka_spark.operators.similarity import (
        exact_rerank,
        ivf_cell_stage,
        ivf_exact_candidates,
        ivfpq_residual_topk,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    k = 5
    denom = 10 * k

    exact = _ann_exact_topk(e, qs, k)  # consumed by all arms
    wk = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")

    tcents = train_ivf_centroids(
        e, "vec_id", "embedding", n_cells=16, cell_stride=31, n_iters=1
    ).localCheckpoint(eager=True)  # consumed by every arm
    cand_tr = ivf_exact_candidates(
        e, qs, "vec_id", "embedding",
        n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31, cell_centroids=tcents,
    )
    arm_frames = [
        cand_tr.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select(
            F.lit("ivf_trained").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    ]
    # ONE trained coarse stage (corpus cell assignment + probe sets)
    # shared by both raw-vector ADC pools — the ivf_cell_stage seam, so
    # the corpus-sized assignment pass is paid once, not per index
    tstage = ivf_cell_stage(
        e, qs, "vec_id", "embedding",
        n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
        cell_centroids=tcents,
    )
    pool_tr = ivfpq_topk(
        e, qs, "vec_id", "embedding",
        k=_X77_POOL, n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
        m=16, dim=64, n_centroids=64, centroid_stride=7, cell_stage=tstage,
    )
    arm_frames.append(
        exact_rerank(e, qs, pool_tr, "vec_id", "embedding", k=k).select(
            F.lit("ivfpq_trained_rerank").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    )
    # codebook passes swept 1/2/4 -> recall 0.86/0.88/0.86 at sf0.01 (r10):
    # 2 passes matches the trained-cells config and the non-monotone tail
    # is the honest measurement (deeper ADC training re-orders the pool
    # without adding coverage — rerank is already exact).  Subvectors
    # materialized once (r16): both Lloyd passes read the slim
    # id-partitioned frame, argmin aggregates exchange-free.
    from hiveka_spark.operators.similarity import pq_subvectors_shared

    cbs = train_pq_codebooks(
        e, "vec_id", "embedding", m=16, dim=64,
        n_centroids=64, centroid_stride=7, n_iters=2,
        subvectors=pq_subvectors_shared(e, "vec_id", "embedding", m=16, dim=64),
    ).localCheckpoint(eager=True)
    pool_full = ivfpq_topk(
        e, qs, "vec_id", "embedding",
        k=_X77_POOL, n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
        m=16, dim=64, n_centroids=64, cell_stage=tstage, codebooks=cbs,
    )
    arm_frames.append(
        exact_rerank(e, qs, pool_full, "vec_id", "embedding", k=k).select(
            F.lit("ivfpq_fully_trained").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    )
    # residual arm: train_iters swept 0/1/2/4 -> rerank recall
    # 0.80/0.86/0.84/0.84 at pool 32; pool swept 40/48/64 at 1 pass ->
    # 0.88/0.88/0.90 — ship (1 pass, pool 40), the cheapest config that
    # ties the raw-vector recommendations
    pool_res = ivfpq_residual_topk(
        e, qs, "vec_id", "embedding",
        k=_X84_RES_POOL, n_cells=16, n_probe=_X77_MAX_PROBE, cell_stride=31,
        m=16, dim=64, n_centroids=64, centroid_stride=7,
        cell_centroids=tcents, train_iters=1,
    )
    arm_frames.append(
        exact_rerank(e, qs, pool_res, "vec_id", "embedding", k=k).select(
            F.lit("ivfpq_residual_rerank").alias("arm"),
            F.lit(_X77_MAX_PROBE).cast("bigint").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
    )

    return _ann_recall_table(
        spark,
        arm_frames,
        exact,
        [
            ("ivf_trained", _X77_MAX_PROBE),
            ("ivfpq_trained_rerank", _X77_MAX_PROBE),
            ("ivfpq_fully_trained", _X77_MAX_PROBE),
            ("ivfpq_residual_rerank", _X77_MAX_PROBE),
        ],
        denom,
    )


# ---------------------------------------------------------------------------
# x63 — corpus snapshot diff (curation-run regression report)
# ---------------------------------------------------------------------------


@register(
    "x63_snapshot_diff",
    oracle="""
    WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    b AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0 THEN md5(text || ' [rev2]')
                  ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, source, md5(text || ' [new]') AS h
      FROM documents WHERE doc_id % 11 = 0
    ),
    d AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL JOIN b ON a.doc_id = b.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM d GROUP BY source, status
    """,
    tags=("curation", "diff", "snapshot", "regression"),
)
def x63_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the regression report a curation team reads
    between pipeline versions: given snapshot A (the fixture) and snapshot
    B (a simulated next run: every 7th doc dropped, every 5th doc's text
    revised, every 11th doc re-ingested under a new id), classify every
    doc_id as added / removed / changed / unchanged by full-outer-joining
    on id and comparing CONTENT HASHES (never the text itself), then
    report per-(source, status) counts.

    Scale shape: each side reduces to (doc_id, source, md5) BEFORE the
    join — the full outer join shuffles 16-byte digests keyed by doc_id,
    never document bytes, and the status classification is a per-row
    expression.  At 100 TB both snapshots would already be
    hive-partitioned by source (x54), making the diff partition-local.
    """
    d = table(spark, sf_dir, "documents")
    a = d.select("doc_id", "source", F.md5("text").alias("h"))
    b_kept = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0, F.md5(F.concat(F.col("text"), F.lit(" [rev2]")))
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    b_new = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "source",
        F.md5(F.concat(F.col("text"), F.lit(" [new]"))).alias("h"),
    )
    b = b_kept.unionByName(b_new)
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce("a.source", "b.source").alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# x64 — HTML-to-text extraction (web-corpus ingestion's first step)
# ---------------------------------------------------------------------------

# Java-regex/RE2-portable patterns (no lookaround, no backrefs; [\s\S]
# instead of DOTALL; explicit [ \t\n\r] instead of \s, whose class differs
# between Java and RE2 at \x0B)
_SCRIPT_RE = r"<script[^>]*>[\s\S]*?</script>"
_STYLE_RE = r"<style[^>]*>[\s\S]*?</style>"
_TAG_RE = r"<[^>]+>"
_WS_RE = r"[ \t\n\r]+"


@register(
    "x64_html_extract",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || '</title><script type="text/javascript">track(' || CAST(doc_id AS VARCHAR)
             || ');</script><style>p {{margin: 0}}</style></head><body><h1>'
             || substr(text, 1, 12)
             || '</h1><p>' || text || '</p><p>tags &amp; entities &lt;kept&gt; '
             || '&quot;quoted&quot; double-escaped &amp;lt;still-escaped&amp;gt;</p></body></html>' AS html
      FROM documents),
    stripped AS (
      SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(
               html, '{_SCRIPT_RE}', '', 'g'), '{_STYLE_RE}', '', 'g'),
               '{_TAG_RE}', ' ', 'g') AS untagged
      FROM h),
    clean AS (
      SELECT doc_id, html,
             trim(regexp_replace(
               replace(replace(replace(replace(untagged,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
               '{_WS_RE}', ' ', 'g')) AS txt
      FROM stripped)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(html, '{_TAG_RE}')) AS BIGINT) AS n_tags,
           CAST(LENGTH(txt) AS BIGINT) AS clean_len,
           md5(txt) AS clean_md5
    FROM clean
    """,
    tags=("text", "html", "extraction", "web-corpus"),
)
def x64_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text extraction — the first step of every web-corpus
    pipeline: drop <script>/<style> blocks wholesale, strip remaining tags
    to spaces, decode the core entities (&amp; &lt; &gt; &quot;), collapse
    whitespace, trim.  The fixture carries plain text, so each doc is first
    wrapped in a deterministic HTML page (title/script/style/h1/entities —
    the x49 synthesize-then-process pattern); the oracle replays synthesis
    AND extraction, and clean_md5 certifies the extracted STRING exactly,
    not just its length.

    All patterns live in the Java-regex/RE2-portable subset (no
    lookaround/backrefs, [\\s\\S] for DOTALL, explicit whitespace class —
    Java's \\s and RE2's \\s disagree at \\x0B), the same discipline as the
    PII scrub (x28).  Zero shuffles: synthesis, stripping, and the stats
    are all per-row JVM expressions — the operator scales with input
    bytes, exactly like production trafilatura-style extraction stages."""
    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">track('),
        F.col("doc_id").cast("string"),
        F.lit(");</script><style>p {margin: 0}</style></head><body><h1>"),
        F.substring("text", 1, 12),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            "</p><p>tags &amp; entities &lt;kept&gt; &quot;quoted&quot;"
            " double-escaped &amp;lt;still-escaped&amp;gt;</p></body></html>"
        ),
    )
    h = d.select("doc_id", html.alias("html"))
    untagged = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("html"), _SCRIPT_RE, ""), _STYLE_RE, ""
        ),
        _TAG_RE,
        " ",
    )
    # decode &amp; LAST: decoding it first would re-interpret the result
    # (the classic double-unescape bug — '&amp;lt;' must become '&lt;',
    # not '<')
    txt = F.trim(
        F.regexp_replace(
            F.replace(
                F.replace(
                    F.replace(
                        F.replace(untagged, F.lit("&lt;"), F.lit("<")),
                        F.lit("&gt;"),
                        F.lit(">"),
                    ),
                    F.lit("&quot;"),
                    F.lit('"'),
                ),
                F.lit("&amp;"),
                F.lit("&"),
            ),
            _WS_RE,
            " ",
        )
    )
    return h.select(
        "doc_id",
        F.regexp_count("html", F.lit(_TAG_RE)).cast("bigint").alias("n_tags"),
        F.length(txt).cast("bigint").alias("clean_len"),
        F.md5(txt).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# x65 — deterministic epoch shuffle (reproducible training order)
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "x65_epoch_shuffle",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY
               {{h0}}, doc_id) AS pos_epoch0,
             ROW_NUMBER() OVER (ORDER BY
               {{h1}}, doc_id) AS pos_epoch1
      FROM documents)
    SELECT doc_id,
           CAST(pos_epoch0 AS BIGINT) AS pos_epoch0,
           CAST(pos_epoch1 AS BIGINT) AS pos_epoch1,
           CAST((pos_epoch0 - 1) % {_N_SHARDS} AS BIGINT) AS shard_epoch0
    FROM r
    """.format(
        h0="CAST(concat('0x', substring(md5(concat('epoch0_', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)",
        h1="CAST(concat('0x', substring(md5(concat('epoch1_', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)",
    ),
    tags=("training-prep", "shuffle", "ordering", "sharding"),
)
def x65_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle — the reproducible random training order
    every run needs: rank docs by the engine-portable hash of
    (epoch_seed, doc_id) with doc_id as the total-order tiebreak.  Two
    epochs are emitted side by side (different salts -> independent
    permutations), plus the round-robin shard assignment off the epoch-0
    position — the order -> shard step of packing a training run.  Unlike
    rand(seed), the hash order is identical across engines, runs, AND
    partitionings, so the exact sample order of any epoch can be replayed
    byte-for-byte years later from (seed, ids) alone.

    Scale shape: naive Window.orderBy with no partition key would move
    EVERY row into one partition (the single-reducer global-window trap),
    so the ranks come from operators/sampling.py::global_hash_rank_multi —
    ONE corpus scan computes both epoch hashes, then each epoch is one
    range-partition + local index (read off monotonically_increasing_id's
    bit layout, no per-partition window exchange) + broadcast partition
    offsets, with epoch-0's positions carried as payload through epoch-1's
    exchange — two range exchanges total, zero row-id joins (the r6 shape
    ran the full rank machinery twice plus a doc_id join).  The plan is
    asserted free of SinglePartition exchanges in tests/test_plans.py.
    Production variant: skip the global rank entirely and SORT BY the hash
    within each output shard (shard = pmod(hash, n) — zero global
    coordination); the rank form here exists to certify the order itself."""
    from hiveka_spark.operators.dedup import dedup_cache_scope
    from hiveka_spark.operators.sampling import global_hash_rank_multi

    d = table(spark, sf_dir, "documents")
    # the rank operator persists its sorted order frames; scope + checkpoint
    # release those caches at entry exit (the x60 lifecycle discipline)
    with dedup_cache_scope():
        ranked = global_hash_rank_multi(
            d, "doc_id", {"pos_epoch0": "epoch0_", "pos_epoch1": "epoch1_"}
        )
        out = ranked.withColumn(
            "shard_epoch0",
            F.pmod(F.col("pos_epoch0") - 1, F.lit(_N_SHARDS)).cast("bigint"),
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# x67 — cluster-balanced sampling (k-means cells + exact-k per cell)
# ---------------------------------------------------------------------------

_X67_PER_CELL = 10


def _x67_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('x67_', CAST(vec_id AS VARCHAR))")
    return f"""
    WITH {_kmeans_assign_ctes()},
    ranked AS (SELECT cell, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY cell ORDER BY {h}, vec_id) AS rk,
                      COUNT(*) OVER (PARTITION BY cell) AS n_members
               FROM a2)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rk AS BIGINT) AS rk,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk <= {_X67_PER_CELL}
    """


@register(
    "x67_cluster_balanced_sample",
    oracle=_x67_oracle(),
    tags=("clustering", "sampling", "diversity", "mixing"),
)
def x67_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling — the 'diversity-balanced subset' step the
    k-means docstring promises (cluster-balanced mixing): assign every
    vector to its k-means cell (x52's exact two-round Lloyd, replayed
    bit-for-bit by the oracle), then keep EXACTLY {_X67_PER_CELL} members
    per cell by hash rank (x57's engine-portable exact-k discipline) —
    equal representation from every region of embedding space regardless
    of how unbalanced the cells are, the standard recipe for
    diversity-preserving downsampling of a skewed corpus.

    Scale shape: x52's assignment plan (corpus never shuffles for
    assignment) + one cell-keyed window over slim (cell, vec_id) rows;
    composes two independently-certified primitives and certifies the
    COMPOSITION with one oracle (the x60 lesson at operator scale)."""
    from hiveka_spark.operators.clustering import kmeans_lloyd
    from hiveka_spark.operators.dedup import portable_hash60

    e = table(spark, sf_dir, "embeddings")
    asgn = kmeans_lloyd(e, "vec_id", "embedding", k=8, n_assign=2, centroid_stride=61)
    h = portable_hash60(F.concat(F.lit("x67_"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cell").orderBy(h, "vec_id")
    wc = Window.partitionBy("cell")
    return (
        asgn.select("cell", "vec_id")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rk") <= _X67_PER_CELL)
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "rk",
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# x70 — batch incremental dedup across corpus versions
# ---------------------------------------------------------------------------


@register(
    "x70_incremental_dedup",
    oracle=None,  # set below — reuses x03's MinHash replay (the union answer)
    tags=("dedup", "minhash", "incremental", "versioned-corpus"),
)
def x70_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch INCREMENTAL near-dup dedup across corpus versions — the
    growing-corpus production pattern: v1 (docs with doc_id % 7 != 0) is
    ingested and deduped first; v2 (the rest) lands later and is deduped
    against v1's PERSISTED index (operators/incremental.py) — v1's text is
    never re-read or re-shingled (the index stores shingle arrays and band
    hashes only; tests assert the v2 update's plan reads nothing but the
    state root).  The accumulated pair set must equal the one-shot batch
    answer over the full corpus — the entry is hash-checked against x03's
    exact DuckDB MinHash replay, same as s19's streaming convergence
    contract but for versioned batch drops."""
    from hiveka_spark.operators.dedup import dedup_cache_scope
    from hiveka_spark.operators.incremental import minhash_index_update

    root = scratch_dir(prefix="gate_x70_")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with dedup_cache_scope():
        minhash_index_update(
            spark, docs.filter(F.col("doc_id") % 7 != 0), root, 1,
            num_perm=32, bands=8, k=3, threshold=0.8,
        )
        pairs = minhash_index_update(
            spark, docs.filter(F.col("doc_id") % 7 == 0), root, 2,
            num_perm=32, bands=8, k=3, threshold=0.8,
        )
        return pairs.localCheckpoint(eager=True)


def _set_x70_oracle() -> None:
    from dataclasses import replace

    from hiveka_spark.queries import REGISTRY
    from hiveka_spark.queries.extensions import _minhash_oracle

    spec = REGISTRY["x70_incremental_dedup"]
    REGISTRY["x70_incremental_dedup"] = replace(spec, oracle=_minhash_oracle())


_set_x70_oracle()


# ---------------------------------------------------------------------------
# x71 — production epoch sharding (zero global coordination)
# ---------------------------------------------------------------------------


def _x71_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('epoch0_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH t AS (SELECT doc_id, {h} AS h FROM documents)
    SELECT doc_id,
           CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % {_N_SHARDS}
                                   ORDER BY h, doc_id) AS BIGINT) AS shard_pos
    FROM t
    """


@register(
    "x71_epoch_shards",
    oracle=_x71_oracle(),
    tags=("training-prep", "shuffle", "sharding", "production-variant"),
)
def x71_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION epoch sharding — the zero-coordination variant x65's
    docstring promises, now certified instead of prose: shard =
    pmod(hash(seed, id), n) and a within-shard (hash, id) position.  No
    total order is computed anywhere: the only exchange is the hash
    partition on the shard key and the rank window partitions BY shard, so
    every shard ranks in parallel — no range sampling, no counts collect,
    no offset broadcast.  This is what a training job actually writes
    (shard files consumed in within-shard order); x65's global rank exists
    for when a single replayable total order must be certified.  Both
    orders are byte-replayable from (seed, ids) alone."""
    from hiveka_spark.operators.sampling import epoch_shards

    d = table(spark, sf_dir, "documents")
    return epoch_shards(d, "doc_id", "epoch0_", _N_SHARDS)


# ---------------------------------------------------------------------------
# x72 — distributed BPE vocabulary training
# ---------------------------------------------------------------------------

_X72_MERGES = 8


def _bpe_oracle(n_merges: int = _X72_MERGES) -> str:
    """Replay of operators.bpe.bpe_train: word-freq reduction, then per
    merge an exact pair-count argmax ((c DESC, lhs, rhs)) and the greedy
    leftmost merge application via the same window recipe (per-position
    match for distinct pairs; even-offset-within-run for aa pairs) —
    unrolled one CTE block per merge, the x52/x61 discipline."""
    blocks = []
    for j in range(1, n_merges + 1):
        prev = f"syms{j - 1}"
        blocks.append(f"""
    nx{j} AS (SELECT w, freq, pos, s, LEAD(s) OVER (PARTITION BY w ORDER BY pos) AS nxt
              FROM {prev}),
    pc{j} AS (SELECT s, nxt, SUM(freq) AS c FROM nx{j} WHERE nxt IS NOT NULL GROUP BY s, nxt),
    best{j} AS (SELECT s AS a, nxt AS b, CAST(c AS BIGINT) AS c
                FROM pc{j} ORDER BY c DESC, s, nxt LIMIT 1),
    fl{j} AS (SELECT n.w, n.freq, n.pos, n.s, n.nxt, b.a, b.b,
                     CASE WHEN n.s = b.a THEN 1 ELSE 0 END AS isa
              FROM nx{j} n CROSS JOIN best{j} b),
    g{j} AS (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, isa ORDER BY pos) AS grp
             FROM fl{j}),
    lf{j} AS (SELECT *, CASE WHEN a = b
                             THEN (isa = 1 AND nxt = a
                                   AND (ROW_NUMBER() OVER (PARTITION BY w, isa, grp
                                                           ORDER BY pos) - 1) % 2 = 0)
                             ELSE (s = a AND nxt = b) END AS is_left
              FROM g{j}),
    cs{j} AS (SELECT *, COALESCE(LAG(is_left) OVER (PARTITION BY w ORDER BY pos), FALSE)
                          AS consumed
              FROM lf{j}),
    syms{j} AS (SELECT w, freq, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
                       CASE WHEN is_left THEN a || b ELSE s END AS s
                FROM cs{j} WHERE NOT consumed)""")
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, c AS pair_count FROM best{j}"
        for j in range(1, n_merges + 1)
    )
    return f"""
    WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
                FROM (SELECT UNNEST(list_filter(string_split(LOWER(text), ' '),
                                                x -> x <> '')) AS w
                      FROM documents)
                GROUP BY w),
    syms0 AS (SELECT w, freq,
                     UNNEST(range(1, LEN(string_split(w, '')) + 1)) AS pos,
                     UNNEST(string_split(w, '')) AS s
              FROM wf),
    {",".join(blocks)}
    {finals}
    """


@register(
    "x72_bpe_train",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "bpe", "training-prep"),
)
def x72_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016) — the
    tokenizer-training step of a training-data pipeline: ONE corpus pass
    reduces to the (word, freq) table, then every merge is a pair-count
    aggregate + a 1-row argmax collect + a per-word window merge pass (the
    operators/bpe.py recipe; greedy leftmost application expressed as
    windows, not a sequential fold, so DuckDB replays every merge exactly).
    Emits the ordered 8-merge table — the artifact a tokenizer ships.
    Scale: training cost is vocabulary-bounded (zipfian), not
    corpus-bounded; ``max_words`` caps it outright at 100 TB.  The
    application side (``bpe_apply``) is pinned equal to a pure-Python
    reference in tests/test_operators.py."""
    from hiveka_spark.operators.bpe import bpe_train

    d = table(spark, sf_dir, "documents")
    return bpe_train(d, "text", n_merges=_X72_MERGES)


# ---------------------------------------------------------------------------
# x76 — real-vocab BPE: driver-local merge finish on the capped unit table
# ---------------------------------------------------------------------------

_X76_MERGES = 256
_X76_MAX_WORDS = 400

def _trained_merge_vocab(d, byte_fallback: bool = False):
    """Train the x76 merge table over ``d`` and build the deterministic
    vocabulary — the shared preamble of every tokenizer gate (x80-x89,
    s24), existing ONCE so the training constants and the alphabet
    collection cannot drift between gates.  Both collects are bounded:
    n_merges merge rows, corpus-character-set alphabet.  Returns
    (merges, vocab).

    ONE corpus pass (r16 optimization, guide §2.4): the unit-frequency
    reduction is materialized once (vocabulary-bounded rows) and BOTH the
    trainer (via bpe_train_capped's ``wf`` seam) and the alphabet derive
    from it — the alphabet's distinct character set over distinct units
    equals the old per-occurrence corpus scan by construction (every
    corpus character appears in some unit, and char-distinct is
    occurrence-insensitive)."""
    merges, vocab, _ = _trained_merge_vocab_wf(d, byte_fallback=byte_fallback)
    return merges, vocab


def _trained_merge_vocab_wf(d, byte_fallback: bool = False):
    """:func:`_trained_merge_vocab` plus the MATERIALIZED unit-frequency
    frame it was derived from — for gates that need (w, freq) themselves
    (x115's utilization mass) so the corpus reduction is paid exactly
    once.  Returns (merges, vocab, wf)."""
    from hiveka_spark.operators.bpe import (
        bpe_train_capped_rows,
        bpe_vocab,
        unit_freq,
    )

    wf = unit_freq(d, "text").localCheckpoint(eager=True)
    # rows seam (r16): the trainer's merge list stays a Python list — no
    # createDataFrame -> collect round trip per gate
    merges = [
        (lhs, rhs)
        for (_rank, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS,
            units=True, wf=wf,
        )
    ]  # bounded: n_merges rows
    alphabet = [
        r["s"]
        for r in wf.select(F.explode(F.split("w", "")).alias("s"))
        .distinct()
        .collect()  # bounded: the corpus character set
    ]
    return merges, bpe_vocab(merges, alphabet, byte_fallback=byte_fallback), wf




#: DuckDB twin of operators/bpe.py::sp_units — the byte-exact pre-tokenizer
#: (spaces -> U+2581, maximal marker/non-marker runs); same regex text
#: raw-text partition (spaces preserved; literal U+2581 runs are their own
#: units) \u2014 space -> '\u2581' mapping happens per unit in the consumers, exactly
#: like operators/bpe.py::sp_units / sp_mark
_SP_UNITS_SQL = "regexp_extract_all({col}, ' *[^ \u2581]+| +|\u2581+')"


def _bpe_train_ctes(
    n_merges: int, max_words: int, raw: bool = False, train_src: str = "documents"
) -> str:
    """The shared WITH RECURSIVE body replaying bpe_train_capped (the
    capped space-spanning-unit frequency table ``uf`` + the merge-loop
    recursion ``r``) — used by both the training gate (x76) and the
    tokenize gate (x79, which joins the derived merge table into a second
    recursion applying it).  Recursion instead of unrolling because 256
    merges x 7 CTEs blows past the binder's expression-depth limit — the
    recursive form has CONSTANT depth at any merge count, which is the
    whole point of the real-vocab gates.  uf is MATERIALIZED: DuckDB
    inlines plain CTEs, and re-expanding the corpus scan down the
    recursion is an exponential blowup.

    ``raw``: byte-exact mode (x91/x94) — units come from the marker
    pre-tokenizer (:data:`_SP_UNITS_SQL`, case preserved) instead of the
    lowercased '_'-joined pairs; the merge recursion itself is
    symbol-agnostic and identical in both modes.  ``train_src``: the table
    the TRAINING reduction scans (x95 trains on the frozen v1 subset while
    tokenizing every version)."""
    units_src = _units_src_sql(train_src, raw)
    base_rows = """(SELECT w, freq,
                   UNNEST(range(1, LEN(string_split(w, '')) + 1)) AS pos,
                   UNNEST(string_split(w, '')) AS s
            FROM uf)"""
    return f"""uf AS MATERIALIZED (
      SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM {units_src}
      GROUP BY u ORDER BY freq DESC, w LIMIT {max_words}),
    {_bpe_train_rec("r", base_rows, n_merges)}"""


def _units_src_sql(train_src: str, raw: bool = False) -> str:
    """Pre-tokenizer unit source (one row per unit occurrence) — ONE
    definition shared by the training reduction (`_bpe_train_ctes`) and
    the x98 continuation's v2 unit table, so the unit expression can
    never drift between gates.  ``raw``: per-unit space -> '▁' (sp_mark
    twin); a corpus-borne literal marker counts as the space it is
    indistinguishable from in the SYMBOL stream — same as the Spark
    side's sp_unit_freq."""
    if raw:
        return f"""(
        SELECT replace(u, ' ', '▁') AS u
        FROM (SELECT UNNEST({_SP_UNITS_SQL.format(col="text")}) AS u
              FROM {train_src}))"""
    return f"""(
        SELECT UNNEST(list_transform(range(0, CAST(CEIL(LEN(toks)/2.0) AS BIGINT)),
                      i -> CASE WHEN 2*i+2 <= LEN(toks) THEN toks[2*i+1] || '_' || toks[2*i+2]
                                ELSE toks[2*i+1] END)) AS u
        FROM (SELECT list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS toks
              FROM {train_src})
        WHERE LEN(toks) > 0)"""


def _bpe_train_rec(name: str, base_rows: str, n_merges: int) -> str:
    """The training RECURSION alone, name-parameterized so a query can run
    it twice (x98 vocabulary extension: a second recursion continues
    training from a base-merges-applied symbol state).  ``base_rows`` is
    any source of (w, freq, pos, s) rows — the it=0 symbol state; the
    step is the argmax-train-apply recipe, byte-identical to the original
    inline text (x76's certified machinery)."""
    return f"""{name} AS (
      SELECT CAST(0 AS BIGINT) AS it, w, freq,
             CAST(pos AS BIGINT) AS pos, s,
             CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
             CAST(NULL AS BIGINT) AS c
      FROM {base_rows}
      UNION ALL
      SELECT it, w, freq,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN is_left THEN a || b ELSE s END AS s, a, b, c
      FROM (
        SELECT *, COALESCE(LAG(is_left) OVER (PARTITION BY w ORDER BY pos), FALSE)
                    AS consumed
        FROM (
          SELECT *, CASE WHEN a = b
                         THEN (isa = 1 AND nxt = a
                               AND (ROW_NUMBER() OVER (PARTITION BY w, isa, grp
                                                       ORDER BY pos) - 1) % 2 = 0)
                         ELSE (s = a AND nxt = b) END AS is_left
          FROM (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, isa ORDER BY pos) AS grp
            FROM (
              SELECT *, CASE WHEN s = a THEN 1 ELSE 0 END AS isa
              FROM (
                SELECT it + 1 AS it, w, freq, pos, s, nxt,
                       FIRST_VALUE(s)   OVER win AS a,
                       FIRST_VALUE(nxt) OVER win AS b,
                       CAST(FIRST_VALUE(pc) OVER win AS BIGINT) AS c
                FROM (
                  SELECT *, SUM(CASE WHEN nxt IS NOT NULL THEN freq END)
                              OVER (PARTITION BY s, nxt) AS pc
                  FROM (SELECT it, w, freq, pos, s,
                               LEAD(s) OVER (PARTITION BY w ORDER BY pos) AS nxt
                        FROM {name} WHERE it < {n_merges})
                ) q0 WINDOW win AS (ORDER BY (nxt IS NULL) ASC, pc DESC, s ASC, nxt ASC)
              ) q1 WHERE b IS NOT NULL
            ) q2
          ) q3
        ) q4
      ) q5 WHERE NOT consumed
    )"""


def _bpe_capped_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of bpe_train_capped via the shared recursive machinery
    (:func:`_bpe_train_ctes`): pair counts via SUM OVER, argmax broadcast
    via FIRST_VALUE over the global (count DESC, lhs, rhs) order, greedy
    leftmost application incl. the aa-run parity rule."""
    return f"""
    WITH RECURSIVE {_bpe_train_ctes(n_merges, max_words)}
    SELECT it AS merge_rank, MIN(a) AS lhs, MIN(b) AS rhs,
           MIN(a) || MIN(b) AS merged, CAST(MIN(c) AS BIGINT) AS pair_count
    FROM r WHERE it >= 1 GROUP BY it ORDER BY merge_rank
    """


@register(
    "x76_bpe_train_capped",
    oracle=_bpe_capped_oracle(),
    tags=("text", "tokenizer", "bpe", "training-prep", "scale"),
)
def x76_bpe_train_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-vocab BPE training — the PRODUCTION shape x72's verdict mark
    asked for: ONE distributed corpus pass reduces to the space-spanning-
    unit frequency table (SentencePiece-style non-overlapping word pairs;
    the 31-word gate vocabulary exhausts word-unit merges at ~107, pair
    units sustain 256+), the deterministic top-400 cap bounds it, and the
    256-merge loop runs DRIVER-LOCALLY with incremental pair counts
    (operators/bpe.py::_train_python — O(affected-word) per merge, no
    per-merge Spark job, the fix for the distributed loop's ~100k-round-
    trip bottleneck at real 32k-merge vocab sizes).  Every one of the 256
    merges is re-derived by the DuckDB recursive-CTE oracle; the
    distributed loop is property-pinned equal in tests/test_operators.py."""
    from hiveka_spark.operators.bpe import bpe_train_capped

    d = table(spark, sf_dir, "documents")
    return bpe_train_capped(
        d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS, units=True
    )


# ---------------------------------------------------------------------------
# x79 — production BPE tokenization with the trained merge table
# ---------------------------------------------------------------------------


def _bpe_apply_ctes(
    n_merges: int, max_words: int, raw: bool = False, train_src: str = "documents"
) -> str:
    """Shared CTE chain for the tokenize gates (x79/x80): the x76 training
    recursion, the derived merge table, per-doc ORDERED unit occurrences
    (upos — the in-doc position, needed by x80's order digest), the
    distinct-unit set, and the APPLY recursion ``ap`` — at iteration j the
    pair comes from the merge table row merge_rank = j (an equi-join, not
    an argmax), the application recipe byte-identical to training's
    (greedy leftmost; aa-run parity).  ``raw``: byte-exact pre-tokenizer
    for both the training reduction and docunits (x94)."""
    if raw:
        # mapped (sp_mark) units — what the Spark encode paths feed the
        # merge machinery.  Corpus-borne LITERAL markers (which Spark
        # routes through byte-fallback ids) are certified by x91's
        # tokenizer-free oracle on marker-bearing augmented text; the sf
        # corpus this replay runs on contains none.
        docunits_src = f"""(
        SELECT doc_id, upos, replace(u, ' ', '▁') AS u
        FROM (SELECT doc_id,
                     UNNEST(range(1, LEN(us) + 1)) AS upos,
                     UNNEST(us) AS u
              FROM (SELECT doc_id, {_SP_UNITS_SQL.format(col="text")} AS us
                    FROM documents)))"""
    else:
        docunits_src = f"""(
        SELECT doc_id,
               UNNEST(range(1, LEN(us) + 1)) AS upos,
               UNNEST(us) AS u
        FROM (SELECT doc_id,
                     list_transform(range(0, CAST(CEIL(LEN(toks)/2.0) AS BIGINT)),
                      i -> CASE WHEN 2*i+2 <= LEN(toks) THEN toks[2*i+1] || '_' || toks[2*i+2]
                                ELSE toks[2*i+1] END) AS us
              FROM (SELECT doc_id,
                           list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS toks
                    FROM documents)
              WHERE LEN(toks) > 0))"""
    return f"""{_bpe_train_ctes(n_merges, max_words, raw=raw, train_src=train_src)},
    merges AS MATERIALIZED (
      SELECT it AS merge_rank, MIN(a) AS a, MIN(b) AS b, MIN(a) || MIN(b) AS merged
      FROM r WHERE it >= 1 GROUP BY it),
    docunits AS MATERIALIZED (
      SELECT doc_id, upos, u FROM {docunits_src}),
    units AS MATERIALIZED (SELECT DISTINCT u FROM docunits),
    ap AS (
      SELECT CAST(0 AS BIGINT) AS it, u AS w, CAST(pos AS BIGINT) AS pos, s
      FROM (SELECT u, UNNEST(range(1, LEN(string_split(u, '')) + 1)) AS pos,
                   UNNEST(string_split(u, '')) AS s
            FROM units)
      UNION ALL
      SELECT it, w, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN is_left THEN a || b ELSE s END AS s
      FROM (
        SELECT *, COALESCE(LAG(is_left) OVER (PARTITION BY w ORDER BY pos), FALSE)
                    AS consumed
        FROM (
          SELECT *, CASE WHEN a = b
                         THEN COALESCE(isa = 1 AND nxt = a
                               AND (ROW_NUMBER() OVER (PARTITION BY w, isa, grp
                                                       ORDER BY pos) - 1) % 2 = 0, FALSE)
                         ELSE COALESCE(s = a AND nxt = b, FALSE) END AS is_left
          FROM (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, isa ORDER BY pos) AS grp
            FROM (
              SELECT *, CASE WHEN s = a THEN 1 ELSE 0 END AS isa
              FROM (
                SELECT p.it + 1 AS it, p.w, p.pos, p.s,
                       LEAD(p.s) OVER (PARTITION BY p.w ORDER BY p.pos) AS nxt,
                       m.a, m.b
                FROM ap p JOIN merges m ON m.merge_rank = p.it + 1
              ) q0
            ) q1
          ) q2
        ) q3
      ) q4 WHERE NOT consumed
    )"""


def _bpe_apply_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of train-then-tokenize (gate x79).  Token counts factor
    through units: greedy BPE of a fixed table never crosses unit
    boundaries, so a doc's count is the sum of its units' counts — the
    same vocabulary-bounded memoization the Spark side's mapInPandas
    exploits.  Docs with NULL/empty text come back 0 (LEFT JOIN +
    COALESCE row parity)."""
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    unit_tok AS (
      SELECT w AS u, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM ap WHERE it = (SELECT MAX(merge_rank) FROM merges) GROUP BY w)
    SELECT d.doc_id, CAST(COALESCE(SUM(t.n_tok), 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d
    LEFT JOIN docunits du ON du.doc_id = d.doc_id
    LEFT JOIN unit_tok t ON t.u = du.u
    GROUP BY d.doc_id
    """


@register(
    "x79_bpe_tokenize",
    oracle=_bpe_apply_oracle(),
    tags=("text", "tokenizer", "bpe", "training-prep", "scale"),
)
def x79_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production BPE tokenization — the SHIP side of x76, closing the
    round-8 verdict's `bpe_apply` weak mark: train the 256-merge table
    (bpe_train_capped: one corpus pass + driver-local incremental finish),
    then tokenize EVERY document with ONE Arrow-batched mapInPandas over a
    broadcast pair->rank dict (operators/bpe.py::bpe_apply_fast) — a flat
    two-node plan at any merge count, vs the stacked-window twin's 2-4
    window operators PER MERGE (~100k chained windows at a real 32k-merge
    vocabulary; the twin stays as the property-pinned certification path,
    tests/test_operators.py).  Per-doc token counts (NULL/empty text -> 0)
    are replayed end-to-end by the DuckDB oracle: merge derivation via the
    x76 recursion, application via a second recursive CTE joined to the
    derived table rank-by-rank.  Scale: merge table ~32k rows broadcast
    once; tokenization is zero-shuffle per-doc work; distinct-unit
    memoization makes the zipfian common case a dict hit."""
    from hiveka_spark.operators.bpe import bpe_apply_fast, bpe_train_capped_rows

    d = table(spark, sf_dir, "documents")
    merges = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS, units=True
        )
    ]  # bounded: n_merges rows; rows seam (r16) — no DataFrame round trip
    return bpe_apply_fast(d, merges, "text", "doc_id", units=True)


# ---------------------------------------------------------------------------
# x80 — token-ID encoding: the tokenizer's ship artifact, digest-certified
# ---------------------------------------------------------------------------


def _bpe_vocab_ctes(
    id_base: int = 0, alpha_units: str = "units", unk: bool = False
) -> str:
    """Vocabulary + final-iteration token-id CTEs shared by the encode-side
    oracles (x80 digest form, x81 token-certified export, x86 artifact):
    the deterministic vocabulary (sorted corpus-unit alphabet ids
    base..base+B-1, then merged strings in first-creation rank order — two
    merges CAN produce the same string from different splits, so ids key
    on the string, min rank wins) and unit_syms, each distinct unit's
    ordered token ids.  ``id_base``: 0 for the plain vocabulary, 256 for
    the byte-fallback ship vocabulary (ids 0..255 reserved raw bytes —
    operators/bpe.py::bpe_vocab byte_fallback=True).  ``alpha_units``:
    the unit CTE the ALPHABET derives from — x95 freezes the vocabulary
    on version 1's units while tokenizing every version.  ``unk``: map
    symbols OUTSIDE the vocabulary to the unknown id COUNT(vocab)+base
    (LEFT JOIN + COALESCE) instead of inner-join-dropping them — the
    plain-vocabulary unk contract of operators/bpe.py::bpe_encode."""
    if unk:
        join = "LEFT JOIN vocab v ON v.sym = ap.s"
        idsel = f"COALESCE(v.id, (SELECT COUNT(*) FROM vocab) + {id_base})"
    else:
        join = "JOIN vocab v ON v.sym = ap.s"
        idsel = "v.id"
    return f"""
    alpha AS (SELECT DISTINCT s
              FROM (SELECT UNNEST(string_split(u, '')) AS s FROM {alpha_units})),
    vocab0 AS (SELECT s AS sym,
                      ROW_NUMBER() OVER (ORDER BY s) - 1 + {id_base} AS id
               FROM alpha),
    vmerge AS (SELECT merged, MIN(merge_rank) AS mr FROM merges GROUP BY merged),
    vocab AS (SELECT sym, CAST(id AS BIGINT) AS id FROM vocab0
              UNION ALL
              SELECT merged AS sym,
                     CAST((SELECT COUNT(*) FROM alpha) - 1 + {id_base}
                          + ROW_NUMBER() OVER (ORDER BY mr) AS BIGINT) AS id
              FROM vmerge),
    unit_syms AS (
      SELECT ap.w AS u, ap.pos, CAST({idsel} AS BIGINT) AS id
      FROM ap {join}
      WHERE ap.it = (SELECT MAX(merge_rank) FROM merges))"""


_BPE_VOCAB_CTES = _bpe_vocab_ctes()


def _bpe_encode_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of train -> vocabulary -> tokenize -> per-doc ID-sequence
    digest: the x79 apply machinery, the shared vocabulary CTEs
    (:data:`_BPE_VOCAB_CTES`), the doc token sequence ordered by (unit
    position, symbol position), and the 31-ary rolling digest mod 2^31-1
    computed positionally: digest = SUM(id * 31^(n - ti)) mod p, with
    31^k from a recursive power CTE (bounded by the longest doc's token
    count).  Every product id * 31^k stays under 2^62 (id < vocab size
    < 2^31, power < p)."""
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    seqs AS MATERIALIZED (
      SELECT du.doc_id, us.id,
             ROW_NUMBER() OVER (PARTITION BY du.doc_id
                                ORDER BY du.upos, us.pos) AS ti,
             COUNT(*) OVER (PARTITION BY du.doc_id) AS n
      FROM docunits du JOIN unit_syms us ON us.u = du.u),
    maxn AS MATERIALIZED (SELECT COALESCE(MAX(n), 0) AS m FROM seqs),
    pw AS (SELECT CAST(0 AS BIGINT) AS k, CAST(1 AS BIGINT) AS v
           UNION ALL
           SELECT k + 1, (v * 31) % 2147483647 FROM pw
           WHERE k < (SELECT m FROM maxn)),
    dig AS (
      SELECT doc_id,
             CAST(MAX(n) AS BIGINT) AS n_tokens,
             CAST(SUM((s.id * p.v) % 2147483647) % 2147483647 AS BIGINT)
               AS ids_digest
      FROM seqs s JOIN pw p ON p.k = s.n - s.ti
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(g.ids_digest, 0) AS BIGINT) AS ids_digest
    FROM documents d LEFT JOIN dig g ON g.doc_id = d.doc_id
    """


@register(
    "x80_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("text", "tokenizer", "bpe", "training-prep", "scale", "certification"),
)
def x80_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-ID encoding — the tokenizer's SHIP ARTIFACT on top of x79's
    apply path: a deterministic vocabulary (sorted corpus-unit alphabet,
    then merged strings in first-creation order; ids key on the STRING
    because distinct merges can produce the same token text), and per doc
    the full ID sequence certified as (n_tokens, ids_digest) — the 31-ary
    rolling content-AND-order digest x75's export manifests use, so ONE
    hash certifies every id, its position, and the sequence length for
    every document (operators/bpe.py::bpe_encode).  The DuckDB oracle
    replays the whole chain: 256-merge training recursion, vocabulary
    assignment, rank-joined apply recursion, positional digest.  Scale:
    merge table + vocabulary broadcast once (vocabulary-bounded), one
    Arrow-batched mapInPandas, zero shuffle; the alphabet collect is
    bounded by the corpus character set."""
    from hiveka_spark.operators.bpe import bpe_encode

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)
    return bpe_encode(d, merges, vocab, "text", "doc_id", units=True)


# ---------------------------------------------------------------------------
# x81 — token-certified dataset export: shards of raw token-ID arrays,
# manifest digests over the shards' concatenated token streams
# ---------------------------------------------------------------------------


def _x81_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of tokenize-then-shard-then-manifest: the x80 train/vocab/
    apply machinery produces every doc's ordered token-id sequence; shard
    assignment and shard_pos replay x75's salted portable_hash60 recipe;
    and each shard's ids_digest is ONE ordered 31-ary fold over the
    shard's concatenated token stream (ORDER BY shard_pos, upos, pos) —
    the flat twin of the Spark side's affine per-doc composition
    (operators/sampling.py::composed_order_digest), so a match certifies
    the composition algebra as well as the export round-trip.  Shards
    whose docs all tokenize to nothing come back (n_docs, 0, 0) via the
    LEFT JOIN."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('tok0_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    shards AS (
      SELECT doc_id, CAST(hh % 8 AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
               AS shard_pos
      FROM (SELECT doc_id, {h} AS hh FROM documents)),
    toks AS (
      SELECT s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                           list(id ORDER BY shard_pos, upos, pos)),
                              (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
               AS ids_digest
      FROM toks GROUP BY shard),
    dcount AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM shards GROUP BY shard)
    SELECT d.shard, d.n_docs,
           CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(t.ids_digest, 0) AS BIGINT) AS ids_digest
    FROM dcount d LEFT JOIN tokagg t ON t.shard = d.shard
    """


@register(
    "x81_token_export",
    oracle=_x81_oracle(),
    tags=("training-prep", "export", "tokenizer", "manifest", "certification"),
)
def x81_token_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-certified dataset export — the composition the round-9
    verdict asked for: the tokenizer's RAW artifact (per-doc
    ``array<bigint>`` ids, operators/bpe.py::bpe_encode_ids) is sharded
    (x71's zero-coordination epoch_shards; shard/shard_pos ride the
    mapInPandas batches as pass-through columns — no id-keyed re-join),
    physically written as partitioned parquet, read back, and manifested
    per shard as (n_docs, n_tokens, ids_digest) where ids_digest is the
    31-ary rolling hash over the shard's ENTIRE concatenated token stream
    in shard_pos order — one number certifying every token id, its
    position, and the stream length of the exported shard files.

    Scale shape: tokenization is the x79/x80 flat mapInPandas (vocab +
    merge table broadcast once, zero shuffle); per-doc digests/lengths
    are JVM-side array folds over the READ-BACK ids column (the digest
    certifies the shipped bytes, not the pre-write values); the shard
    digest composes per-doc pairs with the affine rule via
    composed_order_digest — bounded 64-row segment buffers, a broadcast
    power table over distinct doc lengths, never an exploded token
    stream.  The DuckDB oracle folds the same stream flat, so the
    composition algebra is certified against a structurally different
    computation.  Scratch export dir deleted eagerly (bench reruns)."""
    import shutil

    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import (
        _DIGEST_MOD,
        composed_order_digest,
        epoch_shards,
    )

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)

    staged = epoch_shards(d, "doc_id", "tok0_", 8, keep_cols=("text",))
    toks = bpe_encode_ids(
        staged, merges, vocab, "text", "doc_id",
        units=True, keep_cols=("shard", "shard_pos"),
    )
    out_dir = scratch_dir(prefix="gate_x81export_")
    toks.write.mode("overwrite").partitionBy("shard").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    p = F.lit(_DIGEST_MOD).cast("bigint")
    per_doc = back.select(
        "shard",
        "shard_pos",
        F.aggregate(
            "ids",
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 31 + x) % p,
        ).alias("dd"),
        F.size("ids").cast("bigint").alias("n_tok"),
    )
    counts = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    digests = composed_order_digest(
        per_doc, "shard", "shard_pos", "dd", "n_tok",
        out_col="ids_digest", seg_size=64,
    )
    manifest = (
        counts.join(digests, "shard")
        .select("shard", "n_docs", "n_tokens",
                F.col("ids_digest").cast("bigint").alias("ids_digest"))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return manifest


# ---------------------------------------------------------------------------
# x82 — tokenizer round-trip: decode(encode(text)) == normalized text
# ---------------------------------------------------------------------------


_X82_ORACLE = """
    SELECT doc_id,
           COALESCE(array_to_string(list_filter(string_split(LOWER(text), ' '),
                                                x -> x <> ''), ' '), '') AS text_rt
    FROM documents
    """


@register(
    "x82_token_roundtrip",
    oracle=_X82_ORACLE,
    tags=("text", "tokenizer", "bpe", "certification"),
)
def x82_token_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer LOSSLESSNESS certification — the property every training
    pipeline audits before shipping token shards: detokenizing the
    encoded ids must reproduce the normalized source text for EVERY
    document.  The Spark side runs the entire production chain — train
    the 256-merge table (bpe_train_capped), build the deterministic
    vocabulary (bpe_vocab), encode every pre-tokenizer unit to ids
    (bpe_encode_ids per (doc, upos, unit) row — per-unit rows because a
    flat id stream does not mark unit boundaries), decode the ids back
    (bpe_decode_ids: broadcast inverse vocabulary), restore intra-unit
    spaces from the ``_`` marker, and reassemble each document in unit
    order.  The oracle NEVER TOUCHES the tokenizer: it is one line of
    text normalization over the source table — so a hash match proves no
    step of train -> vocab -> encode -> decode loses or reorders a single
    character, and any vocabulary-collision or merge-table defect
    surfaces as a mismatch.  (The corpus is '_'-free — checked — so the
    space marker cannot collide.)

    Scale shape: training as x76 (one corpus pass + bounded driver loop);
    encode/decode are flat broadcast mapInPandas stages; the only
    shuffles are the per-doc unit explode/reassemble — audit-tier cost by
    design (a production pipeline decodes per unit map-only and never
    reassembles whole documents)."""
    from hiveka_spark.operators.bpe import (
        bpe_decode_ids,
        bpe_encode_ids,
        unit_pairs,
    )
    from hiveka_spark.operators.text import tokens

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)

    # token array projected before the pair lambda references it (r16,
    # see unit_pairs: the inline form re-splits the text per element)
    units_df = d.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id", F.posexplode(unit_pairs(F.col("__toks"))).alias("upos", "u")
    )
    enc = bpe_encode_ids(
        units_df, merges, vocab, text_col="u", id_col="doc_id",
        units=False, keep_cols=("upos",),
    )
    dec = bpe_decode_ids(
        enc, vocab, ids_col="ids", id_col="doc_id", keep_cols=("upos",)
    )
    rt = dec.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("upos", "text_rt"))),
                lambda s: F.regexp_replace(s["text_rt"], "_", " "),
            ),
            " ",
        ).alias("text_rt")
    )
    return d.select("doc_id").join(rt, "doc_id", "left").select(
        "doc_id", F.coalesce("text_rt", F.lit("")).alias("text_rt")
    )


# ---------------------------------------------------------------------------
# x83 — byte-fallback round-trip on OUT-OF-CORPUS text: decode(encode(t)) == t
# for text containing characters the training alphabet never saw
# ---------------------------------------------------------------------------


#: deterministic augmentation: two appended words carrying characters that
#: do not exist in the (a-z only) training corpus — digits, '#', '!' and
#: the multi-byte 'é' (2 UTF-8 bytes), 'µ' (2), '日' (3) — so the byte
#: fallback provably fires on 1-, 2- and 3-byte sequences.  Derived from
#: the source table (doc_id digits), so the oracle replays it verbatim.
_X83_SUFFIX_A = " q7#"
_X83_SUFFIX_B = " éµ日!"


def _x83_oracle() -> str:
    """Tokenizer-free oracle (the x82 discipline): the expected round-trip
    is one line of text normalization over the AUGMENTED text, and the
    expected fallback-byte count is pure character arithmetic — UTF-8
    byte length of every augmented-text character outside the training
    alphabet (corpus characters + the '_' unit joiner; the corpus is
    '_'-free, checked in x82).  Neither column ever touches the BPE
    machinery, so a hash match certifies the whole train -> byte-fallback
    vocab -> encode -> decode chain against nothing but the source
    table."""
    return f"""
    WITH alpha AS (
      SELECT DISTINCT s FROM (
        SELECT UNNEST(string_split(replace(LOWER(text), ' ', ''), '')) AS s
        FROM documents)
      UNION SELECT '_'),
    aug AS (SELECT doc_id,
                   COALESCE(text, '') || '{_X83_SUFFIX_A}'
                     || CAST(doc_id AS VARCHAR) || '{_X83_SUFFIX_B}' AS t2
            FROM documents),
    norm AS (SELECT doc_id,
                    array_to_string(list_filter(string_split(LOWER(t2), ' '),
                                                x -> x <> ''), ' ') AS text_rt
             FROM aug),
    fb AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN s IN (SELECT s FROM alpha) THEN 0
                                ELSE octet_length(encode(s)) END) AS BIGINT)
                    AS n_fallback_bytes
           FROM (SELECT doc_id,
                        UNNEST(string_split(replace(LOWER(t2), ' ', ''), '')) AS s
                 FROM aug)
           GROUP BY doc_id)
    SELECT n.doc_id, n.text_rt, f.n_fallback_bytes,
           CAST(0 AS BIGINT) AS n_unk
    FROM norm n JOIN fb f USING (doc_id)
    """


@register(
    "x83_token_roundtrip_fallback",
    oracle=_x83_oracle(),
    tags=("text", "tokenizer", "bpe", "byte-fallback", "certification"),
)
def x83_token_roundtrip_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness on text the training corpus NEVER SAW — the
    round-10 verdict's #2 (x82's certificate covered the training corpus
    only; a production pipeline tokenizes held-out text).  The vocabulary
    is built with BYTE-LEVEL FALLBACK (operators/bpe.py::bpe_vocab
    byte_fallback=True — the GPT-2/SentencePiece posture: ids 0..255
    reserved for raw UTF-8 bytes, token strings shifted up), so an
    out-of-alphabet character encodes as its UTF-8 bytes instead of a
    lossy shared unk, and maximal byte runs decode back as one UTF-8
    sequence.  The input is the corpus text deterministically AUGMENTED
    with characters certain to be absent from the (a-z) training alphabet
    — digits, '#', '!', plus 2- and 3-byte 'é'/'µ'/'日' — appended from
    the source table itself so the oracle replays it exactly.  Emitted
    per doc: the reassembled round-trip text, the fallback byte count
    (must equal the augmentation's out-of-alphabet UTF-8 byte total —
    proving the fallback FIRED and fired exactly where it should), and
    the unk count (hash-pinned to 0: unk is never emitted).

    Train/vocab/encode/decode chain and scale shape are x82's: one
    corpus-pass training + bounded driver merge loop, alphabet collect
    bounded by the corpus character set, encode/decode as flat broadcast
    mapInPandas stages over per-(doc, unit) rows (a flat id stream does
    not mark unit boundaries), unit reassembly as the one audit-tier
    shuffle."""
    from hiveka_spark.operators.bpe import (
        _BYTE_BASE,
        bpe_decode_ids,
        bpe_encode_ids,
        unit_pairs,
    )
    from hiveka_spark.operators.text import tokens

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d, byte_fallback=True)
    unk = _BYTE_BASE + len(vocab)

    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_X83_SUFFIX_A),
            F.col("doc_id").cast("string"),
            F.lit(_X83_SUFFIX_B),
        ).alias("text"),
    )
    # token array projected before the pair lambda references it (r16,
    # see unit_pairs: the inline form re-splits the text per element)
    units_df = aug.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id", F.posexplode(unit_pairs(F.col("__toks"))).alias("upos", "u")
    )
    enc = bpe_encode_ids(
        units_df, merges, vocab, text_col="u", id_col="doc_id",
        units=False, keep_cols=("upos",), byte_fallback=True,
    ).withColumns(
        {
            "n_fb": F.size(F.filter("ids", lambda x: x < F.lit(_BYTE_BASE)))
            .cast("bigint"),
            "n_unk": F.size(F.filter("ids", lambda x: x >= F.lit(unk)))
            .cast("bigint"),
        }
    )
    dec = bpe_decode_ids(
        enc, vocab, ids_col="ids", id_col="doc_id",
        keep_cols=("upos", "n_fb", "n_unk"), byte_fallback=True,
    )
    return dec.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("upos", "text_rt"))),
                lambda s: F.regexp_replace(s["text_rt"], "_", " "),
            ),
            " ",
        ).alias("text_rt"),
        F.sum("n_fb").cast("bigint").alias("n_fallback_bytes"),
        F.sum("n_unk").cast("bigint").alias("n_unk"),
    )


# ---------------------------------------------------------------------------
# x73 — temperature-based (alpha-weighted) source mixing
# ---------------------------------------------------------------------------


def _x73_oracle() -> str:
    from hiveka_spark.operators.sampling import sample_bucket_sql

    bucket = sample_bucket_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH d AS (SELECT doc_id, source,
                      CAST(LEN(list_filter(string_split(LOWER(text), ' '),
                                           x -> x <> '')) AS BIGINT) AS n_tok
               FROM documents),
    ps AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM d GROUP BY source),
    pw AS (SELECT source, src_tokens,
                  CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE)) * 1000.0) AS BIGINT) AS w_int
           FROM ps),
    tot AS (SELECT CAST(SUM(w_int) AS BIGINT) AS w_sum,
                   CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
            FROM pw),
    r AS (SELECT source, src_tokens, w_int,
                 CAST(w_int * 1000000 // w_sum AS BIGINT) AS share_micro,
                 CAST(total_tokens * 40 // 100 AS BIGINT) AS tb
          FROM pw CROSS JOIN tot),
    r1 AS (SELECT source, src_tokens, share_micro,
                  CAST((tb // 1000000) * share_micro
                       + ((tb % 1000000) * share_micro // 1000000) AS BIGINT)
                    AS budget_tokens
           FROM r),
    r2 AS (SELECT source, src_tokens, share_micro, budget_tokens,
                  CAST(LEAST(100, budget_tokens * 100 // GREATEST(src_tokens, 1))
                       AS BIGINT) AS rate_pct
           FROM r1),
    k AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
          FROM d JOIN r2 USING (source)
          WHERE {bucket} < rate_pct
          GROUP BY d.source)
    SELECT r2.source, src_tokens, share_micro, budget_tokens, rate_pct,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM r2 LEFT JOIN k ON r2.source = k.source
    """


@register(
    "x73_temperature_mix",
    oracle=_x73_oracle(),
    tags=("sampling", "mixing", "temperature", "training-prep"),
)
def x73_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (mC4/XLM-R multinomial
    alpha-sampling, alpha=0.5): x34 takes mixture weights as INPUT; this
    derives them from the corpus — weight ∝ sqrt(source tokens), which
    upweights low-resource sources vs proportional sampling.  sqrt is the
    one float op (IEEE-correctly-rounded in every engine) and is floor-
    quantized to integer milli-units immediately (milli keeps the share
    numerator w_int*1e6 inside int64 for any bigint token count — see
    operators/sampling.py), so normalization,
    budgets, and keep-rates are all bigint DIV arithmetic — no
    partition-order-sensitive double sums anywhere.  Selection is the md5
    bucket predicate (zero shuffle on the corpus side).  Emits the
    per-source mixing report."""
    from hiveka_spark.operators.sampling import temperature_mix

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    return temperature_mix(d, "doc_id", "source", "n_tok", budget_pct=40)


# ---------------------------------------------------------------------------
# x74 — curriculum ordering (quality bands, shuffled within band)
# ---------------------------------------------------------------------------


def _x74_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql
    from hiveka_spark.queries.extensions import _QUALITY_SCORE_SQL, _QUALITY_TF_CTES

    h = portable_hash60_sql("concat('cur0_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH {_QUALITY_TF_CTES},
    qs AS (SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality_score
           FROM f),
    b AS (SELECT doc_id,
                 CAST(FLOOR(quality_score * 10.0) AS BIGINT) AS q_band,
                 {h} AS h
          FROM qs)
    SELECT doc_id, q_band,
           CAST(ROW_NUMBER() OVER (ORDER BY q_band DESC, h, doc_id) AS BIGINT) AS pos
    FROM b
    """


@register(
    "x74_curriculum_order",
    oracle=_x74_oracle(),
    tags=("training-prep", "curriculum", "ordering", "quality"),
)
def x74_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering — highest-quality band first, deterministic
    shuffle WITHIN each band (Bengio et al. 2009's curriculum posture
    composed from two certified primitives: x08's quality score and x65's
    replayable hash order).  The global position comes from
    operators/sampling.py::global_order_rank over the composite
    (band DESC, epoch hash, id) total order — the same range-partition +
    local-index + broadcast-offsets recipe as the epoch shuffle, so no
    single-reducer window anywhere (band DESC is encoded as the negated
    band, keeping the rank machinery ascending-only).  Byte-replayable
    from (seed, ids, quality formula) alone."""
    from hiveka_spark.operators.dedup import dedup_cache_scope, portable_hash60
    from hiveka_spark.operators.sampling import global_order_rank
    from hiveka_spark.operators.text import with_quality

    d = with_quality(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10.0).cast("bigint").alias("q_band"),
    )
    t = d.select(
        "doc_id",
        "q_band",
        (-F.col("q_band")).alias("neg_band"),
        portable_hash60(
            F.concat(F.lit("cur0_"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    with dedup_cache_scope():
        ranked = global_order_rank(t, ["neg_band", "h", "doc_id"], "pos")
        return ranked.select("doc_id", "q_band", "pos").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# x75 — dataset export: sharded publish with content-and-order certification
# ---------------------------------------------------------------------------


def _x75_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('epoch0_', CAST(doc_id AS VARCHAR))")
    d = portable_hash60_sql("concat(CAST(doc_id AS VARCHAR), ':', md5(text))")
    return f"""
    WITH t AS (SELECT doc_id, text,
                      CAST(LEN(list_filter(string_split(LOWER(text), ' '),
                                           x -> x <> '')) AS BIGINT) AS n_tok,
                      {h} AS hh
               FROM documents),
    s AS (SELECT doc_id, n_tok,
                 CAST(hh % 8 AS BIGINT) AS shard,
                 ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS shard_pos,
                 {d} AS dd
          FROM t)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                         list(dd ORDER BY shard_pos)),
                            (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
             AS order_digest
    FROM s GROUP BY shard
    """


@register(
    "x75_dataset_export",
    oracle=_x75_oracle(),
    tags=("training-prep", "export", "sharding", "manifest"),
)
def x75_dataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset PUBLISH step — the end of the curation pipeline: assign
    every document to its epoch shard (x71's zero-coordination sharding,
    with text riding the one shard-key exchange as payload — no second
    corpus scan, no id-keyed re-join), physically WRITE the shards as
    partitioned parquet, read them back, and emit the shipping manifest:
    per shard (n_docs, n_tokens, order_digest), where order_digest is a
    31-ary rolling hash over the per-doc digests in shard_pos order.  It
    certifies the exported files' CONTENT and the (shard_pos -> document)
    ORDER MAPPING: a dropped, duplicated, or content-altered row, or a
    reassigned position, changes it.  Because shard_pos travels with the
    data, a pure physical permutation of otherwise-intact rows re-sorts
    to the same digest — so the consumption contract is ORDER BY
    shard_pos (not file row order), which the manifest then fully
    certifies.  The oracle computes the same manifest from the source
    table directly, so a mismatch means the export round-trip corrupted
    data.

    Scale shape: the write is partitionBy(shard) (one dir per shard, the
    training-job layout); the digest is the SEGMENT-COMPOSED form
    (operators/sampling.py::segmented_order_digest): bounded seg_size-row
    segment digests folded with affine carries (a = 31^len, from a
    broadcast power table), so no aggregation buffer ever holds a whole
    shard — the executed path IS the 100 TB path.  seg_size here is 64 so
    the gate's ~60-doc shards genuinely exercise the multi-segment
    composition, not just a degenerate single segment; the one-buffer
    rolling_digest twin is pinned equal in tests/test_sampling.py.  The
    scratch export dir is deleted eagerly once the manifest is
    materialized (bench runs this repeatedly)."""
    import shutil

    from hiveka_spark.operators.dedup import portable_hash60
    from hiveka_spark.operators.sampling import epoch_shards, segmented_order_digest

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = epoch_shards(docs, "doc_id", "epoch0_", 8, keep_cols=("text",))
    out_dir = scratch_dir(prefix="gate_x75export_")
    staged.write.mode("overwrite").partitionBy("shard").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    dd = portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.md5("text"))
    )
    per_doc = back.select(
        "shard",
        "shard_pos",
        dd.alias("dd"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    counts = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    digests = segmented_order_digest(
        per_doc, "shard", "shard_pos", "dd", out_col="order_digest", seg_size=64
    )
    manifest = (
        counts.join(digests, "shard")
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.col("order_digest").cast("bigint").alias("order_digest"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return manifest


# ---------------------------------------------------------------------------
# x78 — multi-epoch export: E epoch orders from ONE corpus scan
# ---------------------------------------------------------------------------

_X78_EPOCH_SALTS = ("epoch0_", "epoch1_")
_X78_SHARDS = 8


def _x78_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat(e.salt, CAST(d.doc_id AS VARCHAR))")
    dd = portable_hash60_sql("concat(CAST(d.doc_id AS VARCHAR), ':', md5(d.text))")
    salts = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_X78_EPOCH_SALTS)
    )
    return f"""
    WITH t AS (SELECT e.epoch, d.doc_id,
                      CAST(LEN(list_filter(string_split(LOWER(d.text), ' '),
                                           x -> x <> '')) AS BIGINT) AS n_tok,
                      {h} AS hh,
                      {dd} AS dd
               FROM documents d
               CROSS JOIN (VALUES {salts}) e(epoch, salt)),
    s AS (SELECT epoch, doc_id, n_tok, dd,
                 CAST(hh % {_X78_SHARDS} AS BIGINT) AS shard,
                 ROW_NUMBER() OVER (PARTITION BY epoch, hh % {_X78_SHARDS}
                                    ORDER BY hh, doc_id) AS shard_pos
          FROM t)
    SELECT CAST(epoch AS BIGINT) AS epoch, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                         list(dd ORDER BY shard_pos)),
                            (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
             AS order_digest
    FROM s GROUP BY epoch, shard
    """


def x78_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-write staged frame for x78 — split out so tests/test_plans.py
    can assert its physical plan scans documents.parquet exactly ONCE for
    E=2 epochs (the whole point of the multi-epoch path)."""
    from hiveka_spark.operators.sampling import multi_epoch_shards

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return multi_epoch_shards(
        docs, "doc_id", _X78_EPOCH_SALTS, _X78_SHARDS, keep_cols=("text",)
    )


@register(
    "x78_multi_epoch_export",
    oracle=_x78_oracle(),
    tags=("training-prep", "export", "sharding", "manifest", "multi-epoch"),
)
def x78_multi_epoch_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch dataset PUBLISH — x75 generalized to E training epochs
    sharing ONE corpus scan (the round-7 verdict's item 8): every document
    is fanned out to E (epoch, salt) copies by a generator on the single
    scan (operators/sampling.py::multi_epoch_shards — posexplode over the
    salt literals, so the parquet source, its decompression, and any
    upstream curation run once no matter how many epochs ship), sharded
    per epoch by the salted hash, physically written as
    partitionBy(epoch, shard) parquet — the layout a multi-epoch training
    job consumes directly, one directory per (epoch, shard) — read back,
    and certified by one manifest row per (epoch, shard): (n_docs,
    n_tokens, order_digest), digest composed segment-wise exactly as x75
    (bounded seg_size=64 buffers, affine 31^len carries — no whole-shard
    array anywhere).

    Epoch 0 is row-identical to x75's single-epoch export (same salt, same
    shard count — pinned in tests/test_sampling.py), so the multi-epoch
    path is a strict superset, not a fork.  The oracle replays both
    epochs' shard assignment, ordering, and digests from the source table,
    so a mismatch means the fan-out, the physical write, or the read-back
    corrupted content or order.

    Scale shape: one corpus scan, one exchange keyed (epoch, shard) — all
    E×n_shards groups rank in parallel, zero global coordination, no
    SinglePartition exchange (plan-asserted).  Payload text crosses the
    exchange E× because E physical copies are being written; that is the
    write's own output volume, not overhead."""
    import shutil

    from hiveka_spark.operators.dedup import portable_hash60
    from hiveka_spark.operators.sampling import segmented_order_digest

    staged = x78_staged(spark, sf_dir)
    out_dir = scratch_dir(prefix="gate_x78export_")
    staged.write.mode("overwrite").partitionBy("epoch", "shard").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    dd = portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.md5("text"))
    )
    per_doc = back.select(
        "epoch",
        "shard",
        "shard_pos",
        dd.alias("dd"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    counts = per_doc.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    digests = segmented_order_digest(
        per_doc, ("epoch", "shard"), "shard_pos", "dd",
        out_col="order_digest", seg_size=64,
    )
    manifest = (
        counts.join(digests, ["epoch", "shard"])
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            "shard",
            "n_docs",
            "n_tokens",
            F.col("order_digest").cast("bigint").alias("order_digest"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return manifest


# ---------------------------------------------------------------------------
# x85 — multi-epoch TOKEN manifest: per-(epoch, shard) ids_digest over the
# concatenated token stream, from ONE tokenize pass
# ---------------------------------------------------------------------------


def _x85_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of tokenize-once-manifest-per-epoch: the x80 train/vocab/
    apply machinery gives every doc's ordered token-id sequence; shard and
    shard_pos replay x78's per-epoch salted assignment; and each
    (epoch, shard) ids_digest is ONE flat ordered 31-ary fold over the
    concatenated token stream (ORDER BY shard_pos, upos, pos) — the flat
    twin of the Spark side's per-doc affine composition, so a match
    certifies the composition algebra across the epoch fan-out too."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat(e.salt, CAST(d.doc_id AS VARCHAR))")
    salts = ", ".join(f"({i}, '{s}')" for i, s in enumerate(_X78_EPOCH_SALTS))
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    shards AS (
      SELECT epoch, doc_id, CAST(hh % {_X78_SHARDS} AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY epoch, hh % {_X78_SHARDS}
                                ORDER BY hh, doc_id) AS shard_pos
      FROM (SELECT e.epoch, d.doc_id, {h} AS hh
            FROM documents d CROSS JOIN (VALUES {salts}) e(epoch, salt))),
    toks AS (
      SELECT s.epoch, s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT epoch, shard,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                           list(id ORDER BY shard_pos, upos, pos)),
                              (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
               AS ids_digest
      FROM toks GROUP BY epoch, shard),
    dcount AS (SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM shards GROUP BY epoch, shard)
    SELECT CAST(d.epoch AS BIGINT) AS epoch, d.shard, d.n_docs,
           CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(t.ids_digest, 0) AS BIGINT) AS ids_digest
    FROM dcount d LEFT JOIN tokagg t ON t.epoch = d.epoch AND t.shard = d.shard
    """


def x85_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-aggregate staged frame for x85 — split out so
    tests/test_plans.py can assert the tokenizer's mapInPandas appears
    exactly ONCE in the physical plan for E=2 epochs (the whole point:
    per-doc token digests are epoch-invariant, so one tokenize pass
    serves every epoch; only slim (doc_id, digest, len) rows fan out)."""
    from hiveka_spark.operators.bpe import bpe_encode
    from hiveka_spark.operators.sampling import multi_epoch_shards

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)
    enc = bpe_encode(d, merges, vocab, "text", "doc_id", units=True)
    return multi_epoch_shards(
        enc, "doc_id", _X78_EPOCH_SALTS, _X78_SHARDS,
        keep_cols=("n_tokens", "ids_digest"),
    )


@register(
    "x85_multi_epoch_token_manifest",
    oracle=_x85_oracle(),
    tags=("training-prep", "export", "tokenizer", "manifest", "multi-epoch",
          "certification"),
)
def x85_multi_epoch_token_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-level certification composed with the multi-epoch export
    (round-10 verdict #5a): x78's per-(epoch, shard) manifests gain an
    ``ids_digest`` over the shard's ENTIRE concatenated token-ID stream —
    one number per (epoch, shard) certifying every token id, its
    position, and the stream length a multi-epoch training job would
    consume — WITHOUT tokenizing per epoch.  Per-doc (ids_digest,
    n_tokens) pairs are epoch-INVARIANT, so the corpus is tokenized
    exactly once (x80's flat broadcast mapInPandas; plan-asserted single
    tokenize in tests/test_plans.py) and only slim 24-byte rows ride the
    epoch fan-out (multi_epoch_shards posexplode) into the one
    (epoch, shard)-keyed exchange; shard digests then compose from the
    per-doc pairs with the affine 31^len rule (composed_order_digest —
    bounded 64-row segment buffers, broadcast power table, the token
    stream is never exploded).  The DuckDB oracle folds each
    (epoch, shard)'s flat token stream in (shard_pos, upos, pos) order,
    so the composition algebra is certified against a structurally
    different computation for BOTH epochs."""
    from hiveka_spark.operators.sampling import composed_order_digest

    staged = x85_staged(spark, sf_dir)
    counts = staged.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    digests = composed_order_digest(
        staged, ("epoch", "shard"), "shard_pos", "ids_digest", "n_tokens",
        out_col="ids_digest", seg_size=64,
    )
    return counts.join(digests, ["epoch", "shard"]).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "shard",
        "n_docs",
        "n_tokens",
        F.col("ids_digest").cast("bigint").alias("ids_digest"),
    )


# ---------------------------------------------------------------------------
# x86 — tokenizer SHIP ARTIFACT: persist merges + byte-fallback vocabulary,
# reload, and certify the reloaded tokenizer byte-for-byte
# ---------------------------------------------------------------------------


def _tokenizer_artifact_gate(
    spark: SparkSession,
    merges: list,
    vocab: dict,
    norm_mode: str,
    salt: str,
    scratch_prefix: str,
    d,
) -> DataFrame:
    """The persist -> reload -> certify body shared by the tokenizer
    artifact gates (x86 normalized, x94 byte-exact) so the certification
    contract — canonical row renderings, digest folds, the meta check,
    the reloaded-encode shard digests, scratch cleanup — exists ONCE, and
    exercises the USER-FACING artifact API end to end: the write is
    ``save_tokenizer``, the reload is ``load_tokenizer``, and the encode
    is the loaded artifact applying ITSELF under its persisted contract
    (``TokenizerArtifact.encode_ids`` — the mode is never passed by the
    caller, which is the property the meta table certifies)."""
    import shutil

    from hiveka_spark.operators.bpe import load_tokenizer, save_tokenizer
    from hiveka_spark.operators.dedup import portable_hash60
    from hiveka_spark.operators.sampling import (
        _DIGEST_MOD,
        composed_order_digest,
        epoch_shards,
        rolling_digest,
    )

    art_dir = scratch_dir(prefix=scratch_prefix)
    save_tokenizer(spark, art_dir, merges, vocab, norm_mode, byte_fallback=True)

    # reload — everything downstream uses ONLY the read-back artifact
    # (load_tokenizer itself re-reads + content-token-verifies the meta row,
    # so the art fields ARE the read-back meta; no second meta scan)
    mback = spark.read.parquet(f"{art_dir}/merges")
    vback = spark.read.parquet(f"{art_dir}/vocab")
    art = load_tokenizer(spark, art_dir)
    if (art.norm_mode, art.byte_fallback) != (norm_mode, True):
        raise RuntimeError(
            f"tokenizer artifact meta corrupted: {(art.norm_mode, art.byte_fallback)}"
        )

    mdig = mback.select(
        "merge_rank",
        portable_hash60(
            F.concat(
                F.col("merge_rank").cast("string"), F.lit(":"),
                F.col("lhs"), F.lit(":"), F.col("rhs"),
            )
        ).alias("hv"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        rolling_digest("merge_rank", "hv").alias("digest"),
    ).select(F.lit("merges").alias("part"), "n_rows", "digest")
    vdig = vback.select(
        "id",
        portable_hash60(
            F.concat(F.col("id").cast("string"), F.lit(":"), F.col("token"))
        ).alias("hv"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        rolling_digest("id", "hv").alias("digest"),
    ).select(F.lit("vocab").alias("part"), "n_rows", "digest")
    mtdig = spark.createDataFrame(
        [(art.norm_mode, art.byte_fallback)],
        "norm_mode string, byte_fallback boolean",
    ).select(
        F.lit("meta").alias("part"),
        F.lit(1).cast("bigint").alias("n_rows"),
        portable_hash60(
            F.concat(
                F.col("norm_mode"), F.lit(":"),
                F.col("byte_fallback").cast("string"),
            )
        ).alias("digest"),
    )

    staged = epoch_shards(d, "doc_id", salt, 8, keep_cols=("text",))
    toks = art.encode_ids(
        staged, "text", "doc_id", keep_cols=("shard", "shard_pos")
    )
    p = F.lit(_DIGEST_MOD).cast("bigint")
    per_doc = toks.select(
        "shard",
        "shard_pos",
        F.aggregate(
            "ids", F.lit(0).cast("bigint"), lambda acc, x: (acc * 31 + x) % p
        ).alias("dd"),
        F.size("ids").cast("bigint").alias("n_tok"),
    ).localCheckpoint(eager=True)  # consumed by counts AND digests
    counts = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    digests = composed_order_digest(
        per_doc, "shard", "shard_pos", "dd", "n_tok",
        out_col="digest", seg_size=64,
    )
    enc = counts.join(digests, "shard").select(
        F.concat(F.lit("enc_s"), F.col("shard").cast("string")).alias("part"),
        "n_rows",
        F.col("digest").cast("bigint").alias("digest"),
    )
    out = (
        mdig.unionByName(vdig).unionByName(mtdig).unionByName(enc)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(art_dir, ignore_errors=True)
    return out


def _x86_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """Replay of train -> persist -> reload -> encode: the merge/vocab
    digests are ordered 31-ary folds over portable_hash60 of each row's
    canonical rendering (rank:lhs:rhs by rank; id:token by id), derived
    from the SAME training recursion the artifact was written from; the
    enc_s* rows replay x81's shard fold with the byte-fallback id base
    (+256).  The oracle never sees the parquet artifact — a digest match
    therefore proves the written-and-reloaded tables are bit-identical to
    the derivation AND that the reloaded tokenizer encodes every document
    identically."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    mh = portable_hash60_sql("concat(CAST(merge_rank AS VARCHAR), ':', a, ':', b)")
    vh = portable_hash60_sql("concat(CAST(id AS VARCHAR), ':', sym)")
    sh = portable_hash60_sql("concat('art0_', CAST(doc_id AS VARCHAR))")
    fold = (
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), {lst}),"
        " (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)"
    )
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_bpe_vocab_ctes(256)},
    mdig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                    {fold.format(lst=f"list({mh} ORDER BY merge_rank)")} AS digest
             FROM merges),
    vdig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                    {fold.format(lst=f"list({vh} ORDER BY id)")} AS digest
             FROM vocab),
    shards AS (
      SELECT doc_id, CAST(hh % 8 AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
               AS shard_pos
      FROM (SELECT doc_id, {sh} AS hh FROM documents)),
    toks AS (
      SELECT s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT shard,
             {fold.format(lst="list(id ORDER BY shard_pos, upos, pos)")} AS digest
      FROM toks GROUP BY shard),
    dcount AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM shards GROUP BY shard)
    SELECT 'merges' AS part, n_rows, digest FROM mdig
    UNION ALL
    SELECT 'vocab', n_rows, digest FROM vdig
    UNION ALL
    SELECT 'meta', CAST(1 AS BIGINT),
           {portable_hash60_sql("concat('normalized', ':', 'true')")}
    UNION ALL
    SELECT concat('enc_s', CAST(d.shard AS VARCHAR)), d.n_rows,
           CAST(COALESCE(t.digest, 0) AS BIGINT) AS digest
    FROM dcount d LEFT JOIN tokagg t ON t.shard = d.shard
    """


@register(
    "x86_tokenizer_artifact",
    oracle=_x86_oracle(),
    tags=("text", "tokenizer", "bpe", "export", "artifact", "certification"),
)
def x86_tokenizer_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer as a SHIPPED, RELOADABLE artifact — the tokenizer.json
    of this pipeline: train the x76 merge table, build the byte-fallback
    ship vocabulary (x83's serving posture — ids 0..255 reserved raw
    bytes), persist BOTH as parquet (merges: rank/lhs/rhs; vocab:
    token/id) PLUS a one-row meta table carrying the artifact's contract
    (norm_mode + byte_fallback — round-11 verdict #2: a reloaded
    tokenizer must know its own normalization instead of the caller
    guessing; 'byte_exact' is the x91 mode), read them back, and certify
    the round trip from the READ-BACK frames only:

    - 'merges' / 'vocab' rows: ordered 31-ary digests over
      portable_hash60 of each reloaded row's canonical rendering — any
      lost/reordered/corrupted row or id changes the digest the oracle
      derives from the training recursion itself (the oracle never sees
      the parquet).
    - 'enc_s0'..'enc_s7' rows: the RELOADED tables drive a full corpus
      encode (bpe_encode_ids byte_fallback over x71 hash shards), and
      each shard's whole-token-stream digest must equal the oracle's
      fold of the from-scratch derivation — so the artifact is certified
      BEHAVIOR-preserving, not just byte-preserving.

    Scale shape: the artifact is vocabulary-bounded (~32k rows at real
    vocab sizes — the merge/vocab digests fold in one bounded buffer by
    construction); the encode check is x81's flat mapInPandas + affine
    shard composition; the only corpus-sized work is the one training
    pass and the one encode pass."""
    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d, byte_fallback=True)
    return _tokenizer_artifact_gate(
        spark, merges, vocab, "normalized", "art0_", "gate_x86art_", d
    )

# ---------------------------------------------------------------------------
# x87 — packed fixed-length training examples, digest-certified per example
# ---------------------------------------------------------------------------

_X87_CONTEXT = 128
_X87_SHARDS = 8


def _packing_oracle(
    epoch_salts: tuple[str, ...] | None,
    salt: str = "pack0_",
    n_merges: int = _X76_MERGES,
    max_words: int = _X76_MAX_WORDS,
    n_shards: int = 8,
    C: int = 128,
    src: str = "documents",
    extra_ctes: str = "",
) -> str:
    """ONE packing-oracle builder serving x87 (epoch_salts=None: single
    shard space) and x89 (per-epoch salted fan-out) so the packing digest
    contract — global token rank, (rank-1)//C example grouping, the flat
    ids fold, the (r0-1)%C+1 starts fold — exists in exactly one SQL
    text and cannot drift between the single- and multi-epoch gates.
    The token-exploded twin of the Spark side's never-exploded slice
    composition: a hash match certifies the offset window, the slice
    boundaries, and the affine composition at once.

    ``src``: the doc-id table the shards build over (default the whole
    corpus; x90 passes its curated-and-mixed ``kept`` frontier).
    ``extra_ctes``: CTE text spliced in AFTER the tokenizer machinery and
    BEFORE the shards (x90's curation + temperature-rate chain) — names
    must avoid the tokenizer CTEs (uf, r, merges, docunits, units, ap,
    alpha, vocab0, vmerge, vocab, unit_syms)."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    if epoch_salts is None:
        g = ""  # no epoch column
        h = portable_hash60_sql(f"concat('{salt}', CAST(doc_id AS VARCHAR))")
        shards = f"""shards AS (
      SELECT doc_id, CAST(hh % {n_shards} AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % {n_shards}
                                ORDER BY hh, doc_id) AS shard_pos
      FROM (SELECT doc_id, {h} AS hh FROM {src}))"""
        sel_group = "e.shard"
        out_epoch = ""
    else:
        g = "epoch, "
        h = portable_hash60_sql("concat(e.salt, CAST(d.doc_id AS VARCHAR))")
        salts = ", ".join(f"({i}, '{sv}')" for i, sv in enumerate(epoch_salts))
        shards = f"""shards AS (
      SELECT epoch, doc_id, CAST(hh % {n_shards} AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY epoch, hh % {n_shards}
                                ORDER BY hh, doc_id) AS shard_pos
      FROM (SELECT e.epoch, d.doc_id, {h} AS hh
            FROM {src} d CROSS JOIN (VALUES {salts}) e(epoch, salt)))"""
        sel_group = "CAST(e.epoch AS BIGINT) AS epoch, e.shard"
        out_epoch = "sd.epoch = e.epoch AND "
    gs = g.replace("epoch, ", "s.epoch, ") if g else ""
    glue = f"{extra_ctes.rstrip().rstrip(',')},\n    " if extra_ctes else ""
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    {glue}{shards},
    seq AS (
      SELECT {gs}s.shard, s.doc_id, us.id,
             ROW_NUMBER() OVER (PARTITION BY {gs}s.shard
                                ORDER BY s.shard_pos, du.upos, us.pos) AS rn
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    d0 AS (SELECT {g}shard, doc_id, MIN(rn) AS r0 FROM seq
           GROUP BY {g}shard, doc_id),
    sd AS (SELECT {g}shard, CAST((r0 - 1) // {C} AS BIGINT) AS ex_idx,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                list((r0 - 1) % {C} + 1
                                                     ORDER BY r0)),
                                   (acc, x) -> (acc * 31 + x) % 2147483647)
                       AS BIGINT) AS starts_digest
           FROM d0 GROUP BY {g}shard, CAST((r0 - 1) // {C} AS BIGINT)),
    ex AS (
      SELECT {g}shard, CAST((rn - 1) // {C} AS BIGINT) AS ex_idx,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                           list(id ORDER BY rn)),
                              (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
               AS ids_digest
      FROM seq GROUP BY {g}shard, ex_idx)
    SELECT {sel_group}, e.ex_idx, e.n_tokens, e.n_docs, e.ids_digest,
           CAST(COALESCE(sd.starts_digest, 0) AS BIGINT) AS starts_digest
    FROM ex e LEFT JOIN sd ON {out_epoch}sd.shard = e.shard
                          AND sd.ex_idx = e.ex_idx
    """


def _x87_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """x87's packing replay — see :func:`_packing_oracle`."""
    return _packing_oracle(None, n_merges=n_merges, max_words=max_words,
                           n_shards=_X87_SHARDS, C=_X87_CONTEXT)


@register(
    "x87_packed_examples",
    oracle=_x87_oracle(),
    tags=("training-prep", "export", "tokenizer", "packing", "certification"),
)
def x87_packed_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed FIXED-LENGTH training examples — the last trainer-facing step
    of the export chain (docs -> tokens -> shards -> context-length
    examples): within each shard the docs' token streams concatenate in
    shard_pos order and slice into consecutive 128-token examples,
    documents spanning example boundaries (GPT-style packing — no
    padding, no dropped tokens, one short trailing example per shard),
    each example manifested as (n_tokens, n_docs, ids_digest,
    starts_digest) — the last being the digest of the sorted
    within-example positions where a document STARTS, the attention-mask
    / loss-reset metadata a trainer consumes alongside the ids (0 for an
    example wholly inside one long document).

    Scale shape (operators/sampling.py::pack_token_examples): tokenization
    is the flat x79 mapInPandas; the token stream is NEVER exploded to
    rows — one cumulative-sum window gives per-doc offsets, each doc
    emits one row per example it overlaps (O(n_docs + n_tokens/C) rows),
    slice digests are JVM array folds, and per-example digests compose
    with the affine 31^len rule in a buffer bounded by C slices.  The
    DuckDB oracle is the token-exploded twin: global rank per token,
    (rank-1)//C grouping, flat ordered fold — so a match certifies offset
    math, slice boundaries, and the composition algebra at once."""
    return _x87_packed(spark, sf_dir)


def _x87_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x87's packed-example manifest frame — shared with the example-order
    gate (x93), which consumes the SAME example set."""
    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import epoch_shards, pack_token_examples

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)

    staged = epoch_shards(d, "doc_id", "pack0_", _X87_SHARDS, keep_cols=("text",))
    toks = bpe_encode_ids(
        staged, merges, vocab, "text", "doc_id",
        units=True, keep_cols=("shard", "shard_pos"),
    )
    return pack_token_examples(toks, _X87_CONTEXT)


# ---------------------------------------------------------------------------
# x88 — PHYSICAL packed-dataset export: write the actual examples, read them
# back, certify every token and boundary from the shipped bytes
# ---------------------------------------------------------------------------


@register(
    "x88_packed_export",
    oracle=_x87_oracle(),
    tags=("training-prep", "export", "tokenizer", "packing", "certification"),
)
def x88_packed_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed dataset as a SHIPPED artifact — x87's physical
    counterpart and the terminal file a trainer opens: the same
    train -> tokenize -> shard -> pack chain, but the packer emits the
    ACTUAL example rows (ids: the 128 token ids in order; starts: the
    within-example doc-start positions for attention masking; n_docs —
    operators/sampling.py::pack_token_example_rows), which are physically
    written as shard-partitioned parquet and READ BACK; the manifest —
    (n_tokens, n_docs, ids_digest, starts_digest) per example — is then
    derived ENTIRELY from the read-back arrays, and the oracle is x87's
    from-scratch derivation verbatim.  A hash match therefore certifies
    that the bytes on disk — every token id, its position, every
    boundary mark — are exactly the packing of the source corpus; any
    write/read corruption, dropped example, or mis-sliced boundary
    mismatches.

    Scale shape: identical to x87 up to the pack; the packer's exchange
    necessarily carries the token slices (the ids ARE the output — the
    write's own volume, not overhead) with per-example reassembly
    buffers bounded by context_len; the read-back digests are JVM array
    folds, map-only.  Scratch export dir deleted eagerly (bench
    reruns)."""
    import shutil

    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import (
        epoch_shards,
        pack_token_example_rows,
        read_back_example_manifest,
    )

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)

    staged = epoch_shards(d, "doc_id", "pack0_", _X87_SHARDS, keep_cols=("text",))
    toks = bpe_encode_ids(
        staged, merges, vocab, "text", "doc_id",
        units=True, keep_cols=("shard", "shard_pos"),
    )
    packed = pack_token_example_rows(toks, _X87_CONTEXT)
    out_dir = scratch_dir(prefix="gate_x88export_")
    packed.write.mode("overwrite").partitionBy("shard").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    manifest = read_back_example_manifest(back).localCheckpoint(eager=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return manifest


# ---------------------------------------------------------------------------
# x89 — multi-epoch packed examples: each epoch's packing from ONE tokenize
# ---------------------------------------------------------------------------


def _x89_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """x87's packing replay lifted over the per-epoch salted fan-out —
    the SAME digest contract text via :func:`_packing_oracle`."""
    return _packing_oracle(
        _X78_EPOCH_SALTS, n_merges=n_merges, max_words=max_words,
        n_shards=_X87_SHARDS, C=_X87_CONTEXT,
    )


@register(
    "x89_multi_epoch_packed",
    oracle=_x89_oracle(),
    tags=("training-prep", "export", "tokenizer", "packing", "multi-epoch",
          "certification"),
)
def x89_multi_epoch_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed fixed-length examples for EVERY training epoch from ONE
    tokenize pass — the last cell of the export matrix ({single,
    multi-epoch} x {doc manifests x75/x78, token manifests x81/x85,
    packed examples x87/x89}): each epoch's shard order differs, so its
    examples genuinely differ (boundaries cut the stream differently) and
    must be re-packed per epoch — but the per-doc token arrays are
    epoch-INVARIANT, so the corpus is tokenized exactly once
    (bpe_encode_ids on the source docs) and the ids arrays ride the
    multi_epoch_shards posexplode fan-out into the one (epoch, shard)
    exchange, E-copying token bytes only because E epochs of examples are
    being produced (the x78 payload argument).  Packing is x87's
    never-explode pipeline over the composite (epoch, shard) group key;
    output manifests every example as (epoch, shard, ex_idx, n_tokens,
    n_docs, ids_digest, starts_digest).  The oracle re-derives both
    epochs' packings token-by-token from the source table."""
    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import (
        multi_epoch_shards,
        pack_token_examples,
    )

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)
    enc = bpe_encode_ids(d, merges, vocab, "text", "doc_id", units=True)
    staged = multi_epoch_shards(
        enc, "doc_id", _X78_EPOCH_SALTS, _X87_SHARDS, keep_cols=("ids",)
    )
    packed = pack_token_examples(
        staged, _X87_CONTEXT, shard_col=("epoch", "shard")
    )
    return packed.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "shard",
        "ex_idx",
        "n_tokens",
        "n_docs",
        "ids_digest",
        "starts_digest",
    )


# ---------------------------------------------------------------------------
# x91 — BYTE-EXACT tokenizer round-trip: decode(encode(text)) == RAW text,
# case and whitespace runs preserved (clears the round-11 normalization weak)
# ---------------------------------------------------------------------------


#: deterministic augmentation exercising everything the normalized mode
#: destroys — mixed case, double/triple spaces, leading/trailing space runs —
#: plus digits/punctuation/2- and 3-byte characters certain to be absent from
#: (or rare in) the training alphabet so the byte fallback provably fires,
#: AND (round-12 verdict #1) a literal reserved marker U+2581 '▁' (single and
#: a run, space- and letter-adjacent) plus a 4-byte astral character '🦀' —
#: the two inputs the previous fixtures could not see: the literal marker now
#: round-trips through its own byte-fallback ids instead of silently decoding
#: as a space, and the astral char pins surrogate-pair handling through the
#: Java-regex pre-tokenizer.  Derived from the source table (doc_id digits)
#: so the oracle replays it.
_X91_SUFFIX_A = " The  QUICK   brown-Fox #"
_X91_SUFFIX_B = "  Zw7!  éµ日 ▁a▁▁ 🦀  "


def _x91_oracle() -> str:
    """Tokenizer-free oracle (the x82/x83 discipline): the expected
    round-trip is the augmented RAW text VERBATIM — no normalization line
    at all, which is the whole point — and the expected fallback-byte
    count is pure character arithmetic over the RAW augmented text: a
    literal U+2581 '▁' ALWAYS falls back by rule (3 bytes — its own UTF-8,
    regardless of the alphabet, which contains '▁' from corpus spaces); a
    space falls back (1 byte) only if the marker it maps to is outside the
    alphabet; any other character falls back by its UTF-8 byte length when
    outside the alphabet (the 4-byte '🦀' contributes 4).  The alphabet is
    the character set of the MARKED corpus (spaces -> '▁'): training units
    partition the raw text and are space-marked before the symbol split,
    so their characters are exactly its characters.  Neither column ever
    touches the BPE machinery."""
    return f"""
    WITH alpha AS (
      SELECT DISTINCT s FROM (
        SELECT UNNEST(string_split(replace(text, ' ', '▁'), '')) AS s
        FROM documents)),
    aug AS (SELECT doc_id,
                   COALESCE(text, '') || '{_X91_SUFFIX_A}'
                     || CAST(doc_id AS VARCHAR) || '{_X91_SUFFIX_B}' AS t2
            FROM documents),
    fb AS (SELECT doc_id,
                  CAST(SUM(CASE
                    WHEN s = '▁' THEN 3
                    WHEN (CASE WHEN s = ' ' THEN '▁' ELSE s END)
                         IN (SELECT s FROM alpha) THEN 0
                    ELSE octet_length(encode(s)) END) AS BIGINT)
                    AS n_fallback_bytes
           FROM (SELECT doc_id, UNNEST(string_split(t2, '')) AS s
                 FROM aug)
           GROUP BY doc_id)
    SELECT a.doc_id, a.t2 AS text_rt, f.n_fallback_bytes,
           CAST(0 AS BIGINT) AS n_unk
    FROM aug a JOIN fb f USING (doc_id)
    """


def _trained_merge_vocab_raw(d):
    """Byte-exact twin of :func:`_trained_merge_vocab`: training and the
    alphabet both run over :func:`~hiveka_spark.operators.bpe.sp_units`
    (case preserved, whitespace as '▁' token content).  Same bounded
    collects; always builds the byte-fallback ship vocabulary (the raw
    mode exists for serving, where held-out characters are a given).
    Same one-corpus-pass shape as the normalized twin (r16): the
    sp-unit-frequency reduction is materialized once and feeds both the
    trainer (``wf`` seam) and the alphabet — sp_unit_freq's ``w`` is
    already space-marked, so its distinct character set (incl. '▁')
    equals the old per-occurrence scan."""
    from hiveka_spark.operators.bpe import (
        bpe_train_capped_rows,
        bpe_vocab,
        sp_unit_freq,
    )

    wf = sp_unit_freq(d, "text").localCheckpoint(eager=True)
    merges = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS,
            units=False, normalize=False, wf=wf,
        )
    ]  # bounded: n_merges; rows seam (r16)
    alphabet = [
        r["s"]
        for r in wf.select(F.explode(F.split("w", "")).alias("s"))
        .distinct()
        .collect()  # bounded: the corpus character set (incl. '▁')
    ]
    return merges, bpe_vocab(merges, alphabet, byte_fallback=True)


@register(
    "x91_byte_exact_roundtrip",
    oracle=_x91_oracle(),
    tags=("text", "tokenizer", "bpe", "byte-exact", "certification"),
)
def x91_byte_exact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness on RAW bytes — the round-11 verdict's #2
    (x82/x83's certificates held only modulo lowercase + whitespace
    collapse; a production LLM pipeline trains on case-preserved text):
    the tokenizer is trained, encoded, and decoded in the BYTE-EXACT mode
    (operators/bpe.py normalize=False — the SentencePiece convention:
    every space becomes '▁' and units are the maximal marker/non-marker
    runs, a PARTITION of the marked text), with the byte-fallback
    vocabulary (x83's serving posture) covering characters the corpus
    never saw.  The input is the corpus text deterministically AUGMENTED
    with mixed case, double/triple internal spaces, leading/trailing
    space runs, digits, punctuation, and 2-/3-byte characters; emitted
    per doc: the reassembled round-trip text (hash-pinned equal to the
    RAW augmented text — no normalization anywhere), the fallback byte
    count (pinned to the out-of-alphabet UTF-8 byte total), and the unk
    count (pinned 0).

    Scale shape is x83's: one corpus-pass training + bounded driver merge
    loop, alphabet collect bounded by the corpus character set,
    encode/decode as flat broadcast mapInPandas stages over per-(doc,
    unit) rows, unit reassembly as the one audit-tier shuffle — since
    units carry their own spacing, reassembly is plain concatenation."""
    from hiveka_spark.operators.bpe import (
        _BYTE_BASE,
        bpe_decode_ids,
        bpe_encode_ids,
        sp_units,
    )

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab_raw(d)
    unk = _BYTE_BASE + len(vocab)

    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_X91_SUFFIX_A),
            F.col("doc_id").cast("string"),
            F.lit(_X91_SUFFIX_B),
        ).alias("text"),
    )
    units_df = aug.select(
        "doc_id", F.posexplode(sp_units("text")).alias("upos", "u")
    )
    enc = bpe_encode_ids(
        units_df, merges, vocab, text_col="u", id_col="doc_id",
        normalize=False, keep_cols=("upos",), byte_fallback=True,
    ).withColumns(
        {
            "n_fb": F.size(F.filter("ids", lambda x: x < F.lit(_BYTE_BASE)))
            .cast("bigint"),
            "n_unk": F.size(F.filter("ids", lambda x: x >= F.lit(unk)))
            .cast("bigint"),
        }
    )
    dec = bpe_decode_ids(
        enc, vocab, ids_col="ids", id_col="doc_id",
        keep_cols=("upos", "n_fb", "n_unk"), byte_fallback=True,
        normalize=False,
    )
    return dec.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("upos", "text_rt"))),
                lambda s: s["text_rt"],
            ),
            "",
        ).alias("text_rt"),
        F.sum("n_fb").cast("bigint").alias("n_fallback_bytes"),
        F.sum("n_unk").cast("bigint").alias("n_unk"),
    )


# ---------------------------------------------------------------------------
# x93 — example-level training ORDER: SGD consumption order over the packed
# set, deterministic and epoch-varying, zero global coordination
# ---------------------------------------------------------------------------

_X93_ORDER_SHARDS = 4
_X93_EPOCH_SALTS = ("ord0_", "ord1_")


def _x93_oracle() -> str:
    """x87's full packing replay wrapped as a CTE, then the order chain in
    plain SQL: per epoch salt, each example hashes to an order-shard and a
    within-shard position under the (hash, shard, ex_idx) total order, and
    the shard's order digest folds the examples' ids_digest values in
    position order — so a hash match certifies WHICH examples are
    consumed, in WHAT order, for EVERY epoch."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    salts = ", ".join(f"({i}, '{s}')" for i, s in enumerate(_X93_EPOCH_SALTS))
    hh = portable_hash60_sql(
        "concat(salt, CAST(shard AS VARCHAR), ':', CAST(ex_idx AS VARCHAR))"
    )
    return f"""
    WITH m AS MATERIALIZED ({_x87_oracle()}),
    t AS (SELECT e.epoch, e.salt, m.shard, m.ex_idx, m.ids_digest
          FROM m CROSS JOIN (VALUES {salts}) e(epoch, salt)),
    s AS (SELECT CAST(epoch AS BIGINT) AS epoch,
                 CAST(hh % {_X93_ORDER_SHARDS} AS BIGINT) AS ex_shard,
                 ids_digest,
                 ROW_NUMBER() OVER (PARTITION BY epoch, hh % {_X93_ORDER_SHARDS}
                                    ORDER BY hh, shard, ex_idx) AS pos
          FROM (SELECT *, {hh} AS hh FROM t))
    SELECT epoch, ex_shard,
           CAST(COUNT(*) AS BIGINT) AS n_examples,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                         list(ids_digest ORDER BY pos)),
                            (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
             AS order_digest
    FROM s GROUP BY epoch, ex_shard
    """


@register(
    "x93_example_order",
    oracle=_x93_oracle(),
    tags=("training-prep", "ordering", "packing", "multi-epoch",
          "certification"),
)
def x93_example_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Example-level training ORDER (round-11 verdict #4): the packed-set
    manifests certify example CONTENT, but a trainer consumes examples in
    some order, and SGD pipelines deliberately shuffle it per epoch —
    consuming in (shard, ex_idx) order would replay corpus order.  This
    applies the x71 ``epoch_shards`` zero-coordination recipe at EXAMPLE
    granularity: per epoch salt, example (shard, ex_idx) hashes to an
    order-shard (pmod) and a within-shard position under the (hash, shard,
    ex_idx) total order — deterministic and byte-replayable from the salt
    alone, epoch-varying by construction, NO global sort anywhere (the
    rank window partitions by (epoch, ex_shard); plan pinned in
    tests/test_plans.py).  Emits per (epoch, order-shard): the example
    count and the ORDER DIGEST — the 31-ary fold of the examples'
    ids_digest values in consumption order — so one hash certifies which
    examples a job reads and in exactly what order, composing with x87's
    content certificates.

    Scale shape: input is the example MANIFEST (n_tokens/C rows, not
    tokens); the epoch fan-out is a generator explode; the one exchange is
    the (epoch, ex_shard) hash partition; digests fold segmented
    (bounded buffers, `segmented_order_digest`)."""
    from hiveka_spark.operators.sampling import segmented_order_digest

    s = _x93_ranked(spark, sf_dir).localCheckpoint(
        eager=True
    )  # slim manifest-level rows (E * n_tokens/C), consumed by counts AND digests
    counts = s.groupBy("epoch", "ex_shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples")
    )
    digests = segmented_order_digest(
        s, ("epoch", "ex_shard"), "pos", "ids_digest",
        out_col="order_digest", seg_size=64,
    )
    return counts.join(digests, ["epoch", "ex_shard"]).select(
        "epoch", "ex_shard", "n_examples",
        F.col("order_digest").cast("bigint").alias("order_digest"),
    )


def _x93_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY per-epoch example ranking (epoch, ex_shard, pos,
    ids_digest, ...) — exposed so tests can pin the plan shape (one
    tokenize MapInPandas, no SinglePartition) before the gate's
    checkpoint hides the upstream plan (the x65 situation)."""
    from hiveka_spark.operators.dedup import portable_hash60

    packed = _x87_packed(spark, sf_dir)
    epochs = F.array(
        *[
            F.struct(F.lit(i).alias("epoch"), F.lit(s).alias("salt"))
            for i, s in enumerate(_X93_EPOCH_SALTS)
        ]
    )
    t = packed.select(
        "shard", "ex_idx", "ids_digest", F.explode(epochs).alias("e")
    ).select(
        F.col("e.epoch").cast("bigint").alias("epoch"),
        portable_hash60(
            F.concat(
                F.col("e.salt"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("ex_idx").cast("string"),
            )
        ).alias("hh"),
        "shard",
        "ex_idx",
        "ids_digest",
    ).withColumn(
        "ex_shard", F.pmod(F.col("hh"), F.lit(_X93_ORDER_SHARDS)).cast("bigint")
    )
    w = Window.partitionBy("epoch", "ex_shard").orderBy("hh", "shard", "ex_idx")
    return t.withColumn("pos", F.row_number().over(w))


# ---------------------------------------------------------------------------
# x94 — the BYTE-EXACT tokenizer as a SHIPPED, RELOADABLE artifact: x86's
# certification depth for the x91 serving mode
# ---------------------------------------------------------------------------


def _x94_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """x86's artifact replay in the byte-exact mode: the SAME digest
    contract (merge/vocab row digests from the training recursion, meta
    row, per-shard encode digests from the apply recursion) over the
    RAW-mode machinery — `_bpe_apply_ctes(raw=True)` trains and applies
    over marker units (case preserved, whitespace token content), and the
    meta hash pins norm_mode='byte_exact'.  The oracle never sees the
    parquet artifact or the Spark tokenizer."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    mh = portable_hash60_sql("concat(CAST(merge_rank AS VARCHAR), ':', a, ':', b)")
    vh = portable_hash60_sql("concat(CAST(id AS VARCHAR), ':', sym)")
    sh = portable_hash60_sql("concat('rawart0_', CAST(doc_id AS VARCHAR))")
    meta_h = portable_hash60_sql("concat('byte_exact', ':', 'true')")
    fold = (
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), {lst}),"
        " (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)"
    )
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words, raw=True)},
    {_bpe_vocab_ctes(256)},
    mdig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                    {fold.format(lst=f"list({mh} ORDER BY merge_rank)")} AS digest
             FROM merges),
    vdig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                    {fold.format(lst=f"list({vh} ORDER BY id)")} AS digest
             FROM vocab),
    shards AS (
      SELECT doc_id, CAST(hh % 8 AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
               AS shard_pos
      FROM (SELECT doc_id, {sh} AS hh FROM documents)),
    toks AS (
      SELECT s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT shard,
             {fold.format(lst="list(id ORDER BY shard_pos, upos, pos)")} AS digest
      FROM toks GROUP BY shard),
    dcount AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM shards GROUP BY shard)
    SELECT 'merges' AS part, n_rows, digest FROM mdig
    UNION ALL
    SELECT 'vocab', n_rows, digest FROM vdig
    UNION ALL
    SELECT 'meta', CAST(1 AS BIGINT), {meta_h}
    UNION ALL
    SELECT concat('enc_s', CAST(d.shard AS VARCHAR)), d.n_rows,
           CAST(COALESCE(t.digest, 0) AS BIGINT) AS digest
    FROM dcount d LEFT JOIN tokagg t ON t.shard = d.shard
    """


@register(
    "x94_byte_exact_artifact",
    oracle=_x94_oracle(),
    tags=("text", "tokenizer", "bpe", "byte-exact", "export", "artifact",
          "certification"),
)
def x94_byte_exact_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-exact tokenizer (x91's serving mode) shipped with x86's
    certification depth: train in normalize=False mode (marker units,
    case preserved), persist merges + byte-fallback vocabulary + the
    one-row meta table (norm_mode='byte_exact') as parquet, RELOAD, and
    certify from the read-back frames only — merge/vocab/meta row digests
    against the oracle's raw-mode training recursion, plus a full corpus
    encode DRIVEN BY THE RELOADED TABLES whose per-shard token-stream
    digests must match the from-scratch raw-mode apply recursion.  The
    artifact is therefore certified behavior-preserving in the mode a
    production pipeline actually ships (case/whitespace-preserving), and
    a job that reloads it can READ its contract instead of guessing
    (round-11 verdict #2's last clause, completed for both modes).

    Scale shape: identical to x86 — vocabulary-bounded artifact and
    digest folds, one corpus-pass training, one flat mapInPandas encode
    pass, affine shard composition."""
    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab_raw(d)
    return _tokenizer_artifact_gate(
        spark, merges, vocab, "byte_exact", "rawart0_", "gate_x94art_", d
    )



# ---------------------------------------------------------------------------
# x95 — INCREMENTAL token export: a new corpus version is tokenized alone;
# shard manifests compose from persisted per-doc manifests — old text is
# never re-read, nothing is ever re-tokenized (the x70 posture for exports)
# ---------------------------------------------------------------------------

#: version split: v2 is "the new drop", v1 the frozen base the tokenizer
#: trained on.  Derived from doc_id so the oracle replays it verbatim.
_X95_V2_PRED = "doc_id % 3 = 0"


def _x95_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    """From-scratch replay of the incremental export's FINAL state: the
    tokenizer trains on the v1 subset only (train_src seam), the
    vocabulary's alphabet is FROZEN on v1's units (alpha_units seam) with
    the unk contract for symbols v2 introduces (unk seam), every version's
    docs tokenize under that frozen table, and shards fold the union —
    so a hash match certifies that composing persisted v1 manifests with
    a v2-only tokenize pass equals tokenizing everything from scratch."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    hh = portable_hash60_sql("concat('tokv_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words,
                                    train_src=f"(SELECT * FROM documents WHERE NOT ({_X95_V2_PRED}))")},
    v1u AS (SELECT DISTINCT u FROM docunits WHERE NOT ({_X95_V2_PRED})),
    {_bpe_vocab_ctes(alpha_units="v1u", unk=True)},
    shards AS (
      SELECT doc_id, CAST(hh % 8 AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
               AS shard_pos
      FROM (SELECT doc_id, {hh} AS hh FROM documents)),
    toks AS (
      SELECT s.shard, s.shard_pos, du.upos, us.pos, us.id
      FROM shards s
      JOIN docunits du ON du.doc_id = s.doc_id
      JOIN unit_syms us ON us.u = du.u),
    tokagg AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                           list(id ORDER BY shard_pos, upos, pos)),
                              (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
               AS ids_digest,
             CAST(SUM(CASE WHEN id = (SELECT COUNT(*) FROM vocab)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
      FROM toks GROUP BY shard),
    dcount AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM shards GROUP BY shard)
    SELECT d.shard, d.n_docs,
           CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(t.ids_digest, 0) AS BIGINT) AS ids_digest,
           CAST(COALESCE(t.n_unk, 0) AS BIGINT) AS n_unk
    FROM dcount d LEFT JOIN tokagg t ON t.shard = d.shard
    """


def x95_doc_manifest(docs, merges: list, vocab: dict) -> "DataFrame":
    """Per-doc token manifest of ONE corpus version under a frozen
    tokenizer — (doc_id, n_tokens, ids_digest, n_unk), derived JVM-side
    from the encode's ids array (the x86 per_doc shape).  This is the
    row an incremental export PERSISTS per version; later versions never
    touch this version's text again."""
    from hiveka_spark.operators.bpe import bpe_encode_ids
    from hiveka_spark.operators.sampling import _DIGEST_MOD

    unk = len(vocab)
    p = F.lit(_DIGEST_MOD).cast("bigint")
    enc = bpe_encode_ids(docs, merges, vocab, "text", "doc_id", units=True)
    return enc.select(
        "doc_id",
        F.size("ids").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "ids", F.lit(0).cast("bigint"), lambda acc, x: (acc * 31 + x) % p
        ).alias("ids_digest"),
        F.size(F.filter("ids", lambda x: x == F.lit(unk))).cast("bigint")
        .alias("n_unk"),
    )


@register(
    "x95_incremental_token_export",
    oracle=_x95_oracle(),
    tags=("training-prep", "export", "tokenizer", "incremental",
          "certification", "scale"),
)
def x95_incremental_token_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL token export — the x70 never-re-read-old-versions
    posture applied to the tokenize/export path, the operation that makes
    corpus drops affordable at 100 TB (a pipeline must not re-tokenize
    100 TB because 1 TB arrived):

    1. The tokenizer trains ONCE, on version 1, and is frozen (the
       production posture — x86/x94 ship it; symbols a later version
       introduces map to the deterministic unk id, SURFACED per shard as
       ``n_unk`` so drift of new drops away from the frozen vocabulary is
       an observable metric, not a silent corruption).
    2. Each version is tokenized ALONE (v1 at backfill, v2 at its drop —
       the v2 pass's scan is filter-pushed to v2 rows) and persists slim
       per-doc manifests (doc_id, n_tokens, ids_digest, n_unk).
    3. The current shard manifest composes from the PERSISTED manifests
       of all versions — x71 hash shards + the affine digest composition
       — reading NO text column and running NO tokenizer (both
       plan-asserted in tests/test_plans.py).

    The oracle re-derives the final state from scratch (v1-trained
    recursion via the train_src seam, v1-frozen alphabet via the
    alpha_units seam, unk via LEFT JOIN), so a hash match certifies that
    the incremental composition equals full retokenization — per shard:
    (n_docs, n_tokens, ids_digest, n_unk)."""
    import shutil

    from hiveka_spark.operators.bpe import (
        bpe_train_capped_rows,
        bpe_vocab,
        unit_freq,
    )
    from hiveka_spark.operators.sampling import (
        composed_order_digest,
        epoch_shards,
    )

    d = table(spark, sf_dir, "documents")
    v2_pred = F.expr(_X95_V2_PRED)
    v1, v2 = d.filter(~v2_pred), d.filter(v2_pred)

    # frozen tokenizer: trained on v1, alphabet from v1's units, plain
    # vocabulary (unk contract — n_unk below measures what v2 introduces).
    # ONE v1 pass (r16): the unit-frequency reduction feeds the trainer
    # (wf seam) and the alphabet both — char-distinct over distinct units
    # equals the old per-occurrence scan.
    wf = unit_freq(v1, "text").localCheckpoint(eager=True)
    merges = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            v1, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS,
            units=True, wf=wf,
        )
    ]  # rows seam (r16) — no DataFrame round trip
    alphabet = [
        r["s"]
        for r in wf.select(F.explode(F.split("w", "")).alias("s"))
        .distinct()
        .collect()
    ]
    vocab = bpe_vocab(merges, alphabet)

    store = scratch_dir(prefix="gate_x95store_")
    # version backfill, then the incremental drop — each version's text is
    # read exactly once, at ITS OWN tokenize pass
    x95_doc_manifest(v1, merges, vocab).write.mode("overwrite").parquet(
        f"{store}/v=1"
    )
    x95_doc_manifest(v2, merges, vocab).write.mode("overwrite").parquet(
        f"{store}/v=2"
    )

    # current shard manifest: PERSISTED manifests only — no text, no
    # tokenizer (the plan-asserted claim)
    man = spark.read.parquet(f"{store}/v=1", f"{store}/v=2")
    staged = epoch_shards(
        man, "doc_id", "tokv_", 8, keep_cols=("n_tokens", "ids_digest", "n_unk")
    )
    counts = staged.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_unk").cast("bigint").alias("n_unk"),
    )
    digests = composed_order_digest(
        staged.withColumnRenamed("ids_digest", "dd"),
        "shard", "shard_pos", "dd", "n_tokens",
        out_col="ids_digest", seg_size=64,
    )
    out = counts.join(digests, "shard").select(
        "shard", "n_docs", "n_tokens",
        F.col("ids_digest").cast("bigint").alias("ids_digest"),
        "n_unk",
    ).localCheckpoint(eager=True)
    shutil.rmtree(store, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# x98 — VOCABULARY EXTENSION: continued BPE training across corpus versions
# (base merges frozen, new merges appended — token ids stay stable)
# ---------------------------------------------------------------------------

_X98_MORE = 64  # merges appended on top of the 256-merge v1 base


def _x98_oracle(
    n_base: int = _X76_MERGES,
    n_more: int = _X98_MORE,
    max_words: int = _X76_MAX_WORDS,
) -> str:
    """Three chained recursions, all from the shared builders: (1) the v1
    base training recursion (``_bpe_train_ctes`` with the train_src seam —
    x95's frozen-base posture); (2) a freq-carrying APPLY recursion that
    replays the base merges rank-by-rank over the NEW version's capped
    unit table (the continuation's it=0 symbol state — exactly what
    ``_train_python(base_merges=...)`` seeds from); (3) the training
    recursion AGAIN (``_bpe_train_rec``, name-parameterized) seeded from
    (2)'s final state for ``n_more`` argmax steps.  A row match therefore
    certifies every appended merge: the pair chosen, its count over the
    new version, and the order."""
    v2_units = _units_src_sql(f"documents WHERE ({_X95_V2_PRED})")
    # seed from apf's FINAL state (MAX(it)), not the constant n_base: if
    # base training exhausted its pairs early, r stops at it=k < n_base,
    # apf stops at k too, and the constant would select zero rows —
    # silently diverging from bpe_train_continue's early-stop handling
    seeded = "(SELECT w, freq, pos, s FROM apf WHERE it = (SELECT MAX(it) FROM apf))"
    return f"""
    WITH RECURSIVE {_bpe_train_ctes(n_base, max_words,
                                    train_src=f"(SELECT * FROM documents WHERE NOT ({_X95_V2_PRED}))")},
    merges AS MATERIALIZED (
      SELECT it AS merge_rank, MIN(a) AS a, MIN(b) AS b
      FROM r WHERE it >= 1 GROUP BY it),
    uf2 AS MATERIALIZED (
      SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM {v2_units}
      GROUP BY u ORDER BY freq DESC, w LIMIT {max_words}),
    apf AS (
      SELECT CAST(0 AS BIGINT) AS it, w, freq, CAST(pos AS BIGINT) AS pos, s
      FROM (SELECT w, freq,
                   UNNEST(range(1, LEN(string_split(w, '')) + 1)) AS pos,
                   UNNEST(string_split(w, '')) AS s
            FROM uf2)
      UNION ALL
      SELECT it, w, freq,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN is_left THEN a || b ELSE s END AS s
      FROM (
        SELECT *, COALESCE(LAG(is_left) OVER (PARTITION BY w ORDER BY pos), FALSE)
                    AS consumed
        FROM (
          SELECT *, CASE WHEN a = b
                         THEN COALESCE(isa = 1 AND nxt = a
                               AND (ROW_NUMBER() OVER (PARTITION BY w, isa, grp
                                                       ORDER BY pos) - 1) % 2 = 0, FALSE)
                         ELSE COALESCE(s = a AND nxt = b, FALSE) END AS is_left
          FROM (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, isa ORDER BY pos) AS grp
            FROM (
              SELECT *, CASE WHEN s = a THEN 1 ELSE 0 END AS isa
              FROM (
                SELECT p.it + 1 AS it, p.w, p.freq, p.pos, p.s,
                       LEAD(p.s) OVER (PARTITION BY p.w ORDER BY p.pos) AS nxt,
                       m.a, m.b
                FROM apf p JOIN merges m ON m.merge_rank = p.it + 1
              ) q0
            ) q1
          ) q2
        ) q3
      ) q4 WHERE NOT consumed
    ),
    {_bpe_train_rec("r2", seeded, n_more)}
    SELECT it + (SELECT MAX(it) FROM apf) AS merge_rank,
           MIN(a) AS lhs, MIN(b) AS rhs,
           MIN(a) || MIN(b) AS merged, CAST(MIN(c) AS BIGINT) AS pair_count
    FROM r2 WHERE it >= 1 GROUP BY it ORDER BY merge_rank
    """


@register(
    "x98_bpe_vocab_extension",
    oracle=_x98_oracle(),
    tags=("text", "tokenizer", "bpe", "incremental", "training-prep",
          "scale"),
)
def x98_bpe_vocab_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continued BPE training across corpus versions — VOCABULARY
    EXTENSION, the production alternative to x95's frozen-unk posture
    when a new drop genuinely drifts (a code-heavy domain, a new
    language): the v1 base merge table stays FROZEN (every existing
    token id, and therefore every previously tokenized shard and every
    checkpointed embedding row, stays valid) and ``n_more`` new merges
    train on the NEW version only, appended after the base ranks.

    Scale shape: the v2 pass is one corpus-sized reduction over the NEW
    version only (filter-pushed — v1 text is never re-read, the x95
    discipline at TRAIN time), the capped unit table bounds the driver
    loop, and the continuation seeds from the base tokenizer's apply
    output per unit — O(new-version) total, independent of the frozen
    corpus.  The oracle replays base training, the rank-joined apply
    over v2's units, and the seeded continuation recursion, certifying
    every appended merge row-for-row; equivalence of continue-vs-train-
    longer on a fixed corpus is property-pinned in tests."""
    from hiveka_spark.operators.bpe import bpe_train_capped_rows, bpe_train_continue

    d = table(spark, sf_dir, "documents")
    v2_pred = F.expr(_X95_V2_PRED)
    v1, v2 = d.filter(~v2_pred), d.filter(v2_pred)
    base = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in sorted(
            bpe_train_capped_rows(
                v1, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS,
                units=True,
            )
        )  # bounded: n_base; explicit rank sort — rank-sensitive seeding
        # (rows seam r16; the list is built in rank order, sort keeps the
        # round-13 explicit-order discipline)
    ]
    return bpe_train_continue(
        v2, base, "text", n_more=_X98_MORE, max_words=_X76_MAX_WORDS, units=True
    )


# ---------------------------------------------------------------------------
# x101 — UniMax language-balanced budget allocation (Chung et al. 2023)
# ---------------------------------------------------------------------------

_X101_EPOCH_CAP = 2  # E: max epochs any language may repeat (UniMax's cap)
_X101_BUDGET_PCT = 160  # training budget B as % of total corpus chars
_X101_DIGEST_MOD = 1000000007  # keeps the order-insensitive digest SUM < 2^63


def _x101_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('unimax_', CAST(doc_id AS VARCHAR))")
    hd = portable_hash60_sql("CAST(doc_id AS VARCHAR)")
    E, P, M = _X101_EPOCH_CAP, _X101_BUDGET_PCT, _X101_DIGEST_MOD
    return f"""
    WITH c AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS c_chars
               FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(c_chars) * {P} // 100 AS BIGINT) AS b FROM c),
    rk AS (SELECT lang, c_chars, CAST(c_chars * {E} AS BIGINT) AS cap_chars,
                  CAST(ROW_NUMBER() OVER (ORDER BY c_chars, lang) AS BIGINT) AS rnk,
                  CAST(COUNT(*) OVER () AS BIGINT) AS n_langs,
                  CAST(COALESCE(SUM(c_chars * {E}) OVER (
                        ORDER BY c_chars, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS capsum_prev
           FROM c),
    ind AS (SELECT rk.*, b,
                   CASE WHEN cap_chars * (n_langs - rnk + 1) + capsum_prev <= b
                        THEN 1 ELSE 0 END AS ok
            FROM rk CROSS JOIN tot),
    cp AS (SELECT *, CAST(MIN(ok) OVER (ORDER BY rnk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS is_capped
           FROM ind),
    k2 AS (SELECT CAST(COALESCE(SUM(CASE WHEN is_capped = 1 THEN cap_chars END), 0)
                       AS BIGINT) AS capped_total,
                  CAST(SUM(CASE WHEN is_capped = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unc
           FROM cp),
    q AS (SELECT lang, c_chars, cap_chars, is_capped,
                 CAST(CASE WHEN is_capped = 1 THEN cap_chars * 10000
                      ELSE (b - capped_total) * 10000 // n_unc END AS BIGINT) AS quota_hi
          FROM cp CROSS JOIN k2),
    ep AS (SELECT lang, c_chars, cap_chars, is_capped, quota_hi,
                  CAST(quota_hi // (c_chars * 10000) AS BIGINT) AS full_epochs,
                  CAST((quota_hi % (c_chars * 10000)) // 10000 AS BIGINT) AS frac_chars
           FROM q),
    sel AS (SELECT d.lang, d.doc_id, d.n_chars,
                   CAST(COALESCE(SUM(d.n_chars) OVER (
                         PARTITION BY d.lang ORDER BY {h}, d.doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cum_prev
            FROM documents d),
    ag AS (SELECT s.lang,
                  CAST(COUNT(*) AS BIGINT) AS n_frac_docs,
                  CAST(SUM(s.n_chars) AS BIGINT) AS sel_chars,
                  CAST(SUM({hd} % {M}) AS BIGINT) AS sel_digest
           FROM sel s JOIN ep USING (lang)
           WHERE s.cum_prev + s.n_chars <= ep.frac_chars
           GROUP BY s.lang)
    SELECT ep.lang, c_chars, cap_chars, is_capped, quota_hi, full_epochs,
           frac_chars,
           CAST(COALESCE(n_frac_docs, 0) AS BIGINT) AS n_frac_docs,
           CAST(COALESCE(sel_chars, 0) AS BIGINT) AS sel_chars,
           CAST(COALESCE(sel_digest, 0) AS BIGINT) AS sel_digest
    FROM ep LEFT JOIN ag USING (lang)
    """


@register(
    "x101_unimax_allocation",
    oracle=_x101_oracle(),
    tags=("sampling", "mixing", "multilingual", "training-prep", "scale"),
)
def x101_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced sampling (Chung et al. 2023): given a total
    training budget B (chars) and an epoch cap E, allocate per-language
    budgets by the paper's greedy water-filling — languages ascending by
    size either take their full cap c*E or, once the uniform share of the
    remaining budget drops below the cap, EVERY remaining language takes
    that equal share (the share is invariant from the pivot on, so the
    greedy has the closed form used here: a language is capped iff
    cap * langs_remaining + capped_prefix_sum <= B, a cumulative-AND over
    the size-ascending order).  Complements x73 (temperature mixing):
    UniMax never repeats a language more than E epochs, the property
    alpha-sampling cannot guarantee.  Per language this emits the
    allocation (quota_hi, char*1e-4 units — all bigint DIV arithmetic, no
    float normalization), the whole-corpus repeat count (full_epochs), and
    the FRACTIONAL epoch materialized as a deterministic hash-order char-
    budget prefix (x57's salted-md5 discipline), certified by doc count,
    char fill, and an order-insensitive mod-sum digest of the selected ids.

    Scale shape: one map-side-combinable per-language count; the
    allocation windows run on the LANGUAGE table (rows = n_langs, bounded
    ~100 — the unpartitioned window is bounded by construction, never
    corpus-sized); quotas broadcast back onto the corpus; the fractional
    prefix is one per-language window cumsum (for a FEW huge languages
    you'd pre-filter with x57's hash-prefix bound before the sort — same
    documented posture).  No driver collect anywhere."""
    from hiveka_spark.operators.dedup import portable_hash60

    E, P, M = _X101_EPOCH_CAP, _X101_BUDGET_PCT, _X101_DIGEST_MOD
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # ONE corpus pass produces the language table; eagerly checkpointed
    # (bounded: n_langs rows) so the many tiny allocation branches below
    # (tot/rk/k2/ep cross-reference it) never replay the corpus aggregate —
    # without this the single-action plan re-plans the scan per branch
    c = (
        d.groupBy("lang")
        .agg(F.sum("n_chars").cast("bigint").alias("c_chars"))
        .localCheckpoint(eager=True)
    )
    tot = c.agg(
        F.expr(f"CAST(SUM(c_chars) * {P} DIV 100 AS BIGINT)").alias("b")
    )
    # allocation windows: the frame is the LANGUAGE table (n_langs rows,
    # bounded) — a single-partition window here is bounded by construction
    w_rank = Window.orderBy("c_chars", "lang")
    rk = (
        c.withColumn("cap_chars", (F.col("c_chars") * E).cast("bigint"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("n_langs", F.count(F.lit(1)).over(
            Window.partitionBy()).cast("bigint"))
        .withColumn(
            "capsum_prev",
            F.coalesce(
                F.sum("cap_chars").over(
                    w_rank.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    ind = rk.crossJoin(F.broadcast(tot)).withColumn(
        "ok",
        F.when(
            F.col("cap_chars") * (F.col("n_langs") - F.col("rnk") + 1)
            + F.col("capsum_prev")
            <= F.col("b"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cp = ind.withColumn(
        "is_capped",
        F.min("ok").over(
            Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint"),
    )
    k2 = cp.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_capped") == 1, F.col("cap_chars"))), F.lit(0)
        ).cast("bigint").alias("capped_total"),
        F.sum(F.when(F.col("is_capped") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_unc"),
    )
    ep = (
        cp.crossJoin(F.broadcast(k2))
        .withColumn(
            "quota_hi",
            F.when(
                F.col("is_capped") == 1, F.col("cap_chars") * F.lit(10000)
            ).otherwise(
                F.expr("(b - capped_total) * 10000 DIV n_unc")
            ).cast("bigint"),
        )
        .withColumn(
            "full_epochs",
            F.expr("quota_hi DIV (c_chars * 10000)").cast("bigint"),
        )
        .withColumn(
            "frac_chars",
            F.expr("(quota_hi % (c_chars * 10000)) DIV 10000").cast("bigint"),
        )
        .select("lang", "c_chars", "cap_chars", "is_capped", "quota_hi",
                "full_epochs", "frac_chars")
    )
    # fractional epoch: deterministic hash-order char-budget prefix per lang
    hv = portable_hash60(
        F.concat(F.lit("unimax_"), F.col("doc_id").cast("string"))
    )
    w_sel = (
        Window.partitionBy("lang")
        .orderBy("hv", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = (
        d.withColumn("hv", hv)
        .withColumn(
            "cum_prev",
            F.coalesce(F.sum("n_chars").over(w_sel), F.lit(0)).cast("bigint"),
        )
        .join(F.broadcast(ep.select("lang", "frac_chars")), "lang")
        .filter(F.col("cum_prev") + F.col("n_chars") <= F.col("frac_chars"))
    )
    ag = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frac_docs"),
        F.sum("n_chars").cast("bigint").alias("sel_chars"),
        F.sum(portable_hash60(F.col("doc_id")) % M)
        .cast("bigint").alias("sel_digest"),
    )
    return ep.join(ag, "lang", "left").select(
        "lang", "c_chars", "cap_chars", "is_capped", "quota_hi",
        "full_epochs", "frac_chars",
        F.coalesce("n_frac_docs", F.lit(0)).cast("bigint").alias("n_frac_docs"),
        F.coalesce("sel_chars", F.lit(0)).cast("bigint").alias("sel_chars"),
        F.coalesce("sel_digest", F.lit(0)).cast("bigint").alias("sel_digest"),
    )


# ---------------------------------------------------------------------------
# x103 — best-fit whole-document packing (Ding et al. 2024)
# ---------------------------------------------------------------------------

_X103_CAP = 192  # bin capacity (word tokens)
_X103_GROUP = 32  # docs per pack-group (the production shard seam)


def _x103_ctes() -> str:
    """The BFD-loop replay CTE chain (lens/ord/rec) shared by x103 (the
    assignment gate) and x128 (the physical export): the recursive CTE
    carries each pack-group's bin-remainder LIST as state, one unrolled
    step per insertion rank — so the loop itself, not just aggregate
    waste, is certified, and the two gates can never drift."""
    C, G = _X103_CAP, _X103_GROUP
    return f"""lens AS (
      SELECT doc_id, CAST(doc_id // {G} AS BIGINT) AS g,
             CAST(LEN(list_filter(string_split(LOWER(text), ' '), x -> x <> ''))
                  AS BIGINT) AS len
      FROM documents),
    ord AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY g
                           ORDER BY len DESC, doc_id) AS BIGINT) AS i
            FROM lens),
    rec AS (
      SELECT g, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS rem,
             CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS len,
             CAST(NULL AS BIGINT) AS bin
      FROM (SELECT DISTINCT g FROM ord) gg
      UNION ALL
      SELECT o.g, o.i,
             CASE WHEN list_min(list_filter(r.rem, x -> x >= o.len)) IS NULL
                  THEN list_append(r.rem, GREATEST({C} - o.len, 0))
                  ELSE list_transform(r.rem, (x, ix) ->
                         CASE WHEN ix = list_position(r.rem,
                                  list_min(list_filter(r.rem, x2 -> x2 >= o.len)))
                              THEN x - o.len ELSE x END)
             END AS rem,
             o.doc_id, o.len,
             CASE WHEN list_min(list_filter(r.rem, x -> x >= o.len)) IS NULL
                  THEN CAST(LEN(r.rem) + 1 AS BIGINT)
                  ELSE CAST(list_position(r.rem,
                           list_min(list_filter(r.rem, x -> x >= o.len)))
                       AS BIGINT)
             END AS bin
      FROM rec r JOIN ord o ON o.g = r.g AND o.i = r.i + 1)"""


def _x103_oracle() -> str:
    return f"""
    WITH RECURSIVE {_x103_ctes()}
    SELECT g, doc_id, len, bin FROM rec WHERE doc_id IS NOT NULL
    """


@register(
    "x103_bestfit_packing",
    oracle=_x103_oracle(),
    tags=("training-prep", "packing", "chunking", "scale"),
)
def x103_bestfit_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing WHOLE-document packing (Ding et al. 2024,
    "Fewer Truncations Improve Language Modeling"): documents are never
    split — each goes, longest first, into the open bin with the
    smallest remaining capacity that still fits (ties: lowest bin id),
    else opens a new bin; an oversized doc gets a bin of its own.  The
    paper's alternative to x87's fixed-length GPT packing (which slices
    across document boundaries) and x25's first-fit heuristic: BFD is
    the classic 11/9-OPT bin-packing approximation, so padding waste is
    near-optimal while every training example keeps whole documents.

    Scale shape: packing runs per PACK-GROUP of {_X103_GROUP} consecutive
    docs (the production seam is a shard — exactly how the paper applies
    it; group size bounds both the Arrow batch and the oracle's
    recursion), via ONE groupBy exchange into an applyInPandas whose
    per-group loop is O(docs x bins) on <= {_X103_GROUP} rows.  The
    oracle replays the LOOP ITSELF: a recursive CTE carries each group's
    bin-remainder LIST as state, one unrolled step per rank, advancing
    every group in parallel rows — assignment certified row-for-row,
    not just aggregate waste."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.expr(f"CAST(doc_id DIV {_X103_GROUP} AS BIGINT)").alias("g"),
        F.size(tokens("text")).cast("bigint").alias("len"),
    )
    C = _X103_CAP

    def _bfd(pdf):
        pdf = pdf.sort_values(["len", "doc_id"], ascending=[False, True])
        rem: list[int] = []
        bins: list[int] = []
        for ln in pdf["len"]:
            best_i = -1
            best_v = None
            for idx, rv in enumerate(rem):
                if rv >= ln and (best_v is None or rv < best_v):
                    best_v, best_i = rv, idx
            if best_i < 0:
                rem.append(max(C - int(ln), 0))
                bins.append(len(rem))
            else:
                rem[best_i] -= int(ln)
                bins.append(best_i + 1)
        out = pdf[["g", "doc_id", "len"]].copy()
        out["bin"] = bins
        return out

    return d.groupBy("g").applyInPandas(
        _bfd, "g bigint, doc_id bigint, len bigint, bin bigint"
    )


# ---------------------------------------------------------------------------
# x104 — tokenizer fertility / compression evaluation per language
# ---------------------------------------------------------------------------


def _x104_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    unit_tok AS (
      SELECT w AS u, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM ap WHERE it = (SELECT MAX(merge_rank) FROM merges) GROUP BY w),
    pd AS (
      SELECT d.doc_id, MIN(d.lang) AS lang,
             CAST(MIN(d.n_chars) AS BIGINT) AS n_chars,
             CAST(MIN(LEN(list_filter(string_split(LOWER(d.text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_words,
             CAST(COALESCE(SUM(t.n_tok), 0) AS BIGINT) AS n_tok
      FROM documents d
      LEFT JOIN docunits du ON du.doc_id = d.doc_id
      LEFT JOIN unit_tok t ON t.u = du.u
      GROUP BY d.doc_id)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_words) AS BIGINT) AS sum_words,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS BIGINT) * 10000
             // CAST(SUM(n_tok) AS BIGINT) AS chars_per_token_q,
           CAST(SUM(n_tok) AS BIGINT) * 10000
             // CAST(SUM(n_words) AS BIGINT) AS fertility_q
    FROM pd GROUP BY lang
    """


@register(
    "x104_tokenizer_fertility",
    oracle=_x104_oracle(),
    tags=("text", "tokenizer", "bpe", "evaluation", "multilingual"),
)
def x104_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression evaluation per language (Rust et
    al. 2021, "How Good is Your Tokenizer?"): after training the x76
    merge table, report per language the corpus-level FERTILITY (BPE
    tokens per word — the standard multilingual-tokenizer equity metric;
    a language with outsized fertility pays more sequence length per
    unit of text) and the compression ratio (chars per token).  This is
    the evaluation table a tokenizer-training run publishes alongside
    the artifact (x86) — it decides whether a vocabulary extension (x98)
    is warranted for an under-served language.

    Scale shape: training is x76's one-pass + bounded driver finish;
    scoring is bpe_apply_fast's zero-shuffle Arrow mapInPandas; per-doc
    metadata joins the counts on the id key (equi-join, both sides
    id-partitioned), then one map-side-combinable per-language rollup.
    Ratios are bigint DIV on the language-level SUMS (never per-doc
    floats), so the oracle — which replays training AND application
    recursively — matches on integer arithmetic alone."""
    from hiveka_spark.operators.bpe import bpe_apply_fast, bpe_train_capped_rows

    d = table(spark, sf_dir, "documents")
    merges = [
        (lhs, rhs)
        for (_r, lhs, rhs, _m, _c) in bpe_train_capped_rows(
            d, "text", n_merges=_X76_MERGES, max_words=_X76_MAX_WORDS, units=True
        )
    ]  # bounded: n_merges; rows seam (r16)
    counts = bpe_apply_fast(d, merges, "text", "doc_id", units=True)
    meta = d.select(
        "doc_id", "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.coalesce(F.size(tokens("text")), F.lit(0)).cast("bigint").alias("n_words"),
    )
    per_lang = (
        meta.join(counts, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("n_words").cast("bigint").alias("sum_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("sum_tokens"),
        )
    )
    return per_lang.select(
        "lang", "n_docs", "sum_chars", "sum_words", "sum_tokens",
        F.expr("sum_chars * 10000 DIV sum_tokens")
        .cast("bigint").alias("chars_per_token_q"),
        F.expr("sum_tokens * 10000 DIV sum_words")
        .cast("bigint").alias("fertility_q"),
    )


# ---------------------------------------------------------------------------
# x105 — fill-in-the-middle (FIM) example transformation (Bavarian et al.
# 2022, "Efficient Training of Language Models to Fill in the Middle")
# ---------------------------------------------------------------------------

_X105_RATE_PCT = 50  # FIM application rate (the paper's 50% default)


def _x105_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h1 = portable_hash60_sql("concat('fima_', CAST(doc_id AS VARCHAR))")
    h2 = portable_hash60_sql("concat('fimb_', CAST(doc_id AS VARCHAR))")
    h3 = portable_hash60_sql("concat('fimr_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    seqs AS MATERIALIZED (
      SELECT du.doc_id, us.id,
             ROW_NUMBER() OVER (PARTITION BY du.doc_id
                                ORDER BY du.upos, us.pos) AS ti
      FROM docunits du JOIN unit_syms us ON us.u = du.u),
    idl AS (SELECT doc_id, list(id ORDER BY ti) AS ids FROM seqs GROUP BY doc_id),
    allids AS (SELECT d.doc_id, COALESCE(i.ids, CAST([] AS BIGINT[])) AS ids
               FROM documents d LEFT JOIN idl i USING (doc_id)),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    pts AS (SELECT doc_id, ids, CAST(LEN(ids) AS BIGINT) AS n,
                   CAST({h1} % (LEN(ids) + 1) AS BIGINT) AS p1,
                   CAST({h2} % (LEN(ids) + 1) AS BIGINT) AS p2,
                   CAST(CASE WHEN {h3} % 100 < {_X105_RATE_PCT}
                             THEN 1 ELSE 0 END AS BIGINT) AS fim_applied
            FROM allids),
    sp AS (SELECT doc_id, ids, n, fim_applied,
                  LEAST(p1, p2) AS lo, GREATEST(p1, p2) AS hi
           FROM pts),
    o AS (SELECT doc_id, n, fim_applied, lo, hi,
                 CASE WHEN fim_applied = 1
                      THEN [v + 1] || ids[1:lo] || [v + 2] || ids[hi+1:n]
                           || [v + 3] || ids[lo+1:hi]
                      ELSE ids END AS out
          FROM sp CROSS JOIN vv)
    SELECT doc_id, n AS n_tokens, fim_applied, lo, hi,
           CAST(LEN(out) AS BIGINT) AS n_out,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), out),
                            (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
             AS out_digest
    FROM o
    """


@register(
    "x105_fim_transform",
    oracle=_x105_oracle(),
    tags=("training-prep", "tokenizer", "fim", "transform", "certification"),
)
def x105_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transformation (Bavarian et al. 2022):
    for a hash-selected {_X105_RATE_PCT}% of documents, the token-id
    sequence is split at two hash-derived points into (prefix, middle,
    suffix) and re-emitted in PSM order — <PRE> prefix <SUF> suffix
    <MID> middle — with three sentinel ids appended after the vocabulary
    (unk is len(vocab), sentinels are +1/+2/+3, so no collision with any
    token or the unk).  The paper's key property — FIM is a data-level
    transform that costs nothing at the model — maps here to a pure
    column expression: document-level split points and the apply
    decision come from the salted portable hash (reproducible across
    runs AND engines, the x57 discipline), never RNG state.

    Scale shape: rides x80's encode (broadcast merge table + vocabulary,
    one Arrow mapInPandas, zero shuffle); the transform itself is
    JVM-side array slicing/concat on the ids column and the certificate
    is the 31-ary positional fold (F.aggregate — no Python, no shuffle).
    The oracle replays train -> vocabulary -> encode -> split -> PSM
    reassembly -> digest, certifying every transformed sequence's
    content AND order."""
    from hiveka_spark.operators.dedup import portable_hash60

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)
    v = len(vocab)
    from hiveka_spark.operators.bpe import bpe_encode_ids

    enc = bpe_encode_ids(d, merges, vocab, "text", "doc_id", units=True)

    def h(salt: str):
        return portable_hash60(
            F.concat(F.lit(salt), F.col("doc_id").cast("string"))
        )

    n = F.size("ids").cast("bigint")
    pts = enc.select(
        "doc_id", "ids",
        n.alias("n"),
        (h("fima_") % (n + 1)).cast("bigint").alias("p1"),
        (h("fimb_") % (n + 1)).cast("bigint").alias("p2"),
        F.when(h("fimr_") % 100 < _X105_RATE_PCT, F.lit(1))
        .otherwise(F.lit(0)).cast("bigint").alias("fim_applied"),
    ).select(
        "doc_id", "ids", "n", "fim_applied",
        F.least("p1", "p2").alias("lo"),
        F.greatest("p1", "p2").alias("hi"),
    )
    lo, hi, nn = F.col("lo"), F.col("hi"), F.col("n")
    psm = F.concat(
        F.array(F.lit(v + 1).cast("bigint")),
        F.slice("ids", F.lit(1), lo),
        F.array(F.lit(v + 2).cast("bigint")),
        F.slice("ids", hi + 1, nn - hi),
        F.array(F.lit(v + 3).cast("bigint")),
        F.slice("ids", lo + 1, hi - lo),
    )
    out = pts.withColumn(
        "out", F.when(F.col("fim_applied") == 1, psm).otherwise(F.col("ids"))
    )
    return out.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "fim_applied", "lo", "hi",
        F.size("out").cast("bigint").alias("n_out"),
        F.aggregate(
            "out",
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 31 + x) % F.lit(2147483647),
        ).cast("bigint").alias("out_digest"),
    )


# ---------------------------------------------------------------------------
# x107 — in-context related-document packing (Shi et al. 2024, "In-Context
# Pretraining: Language Modeling Beyond Document Boundaries")
# ---------------------------------------------------------------------------

_X107_K = 8  # kmeans cells (the x52 oracle-replayed configuration)
_X107_STRIDE = 61
_X107_SEG = 64  # docs per within-cell segment (window + packing bound)
_X107_BUDGET = 256  # context-window token budget per packed chunk


def _x107_seg_ctes(
    k: int = _X107_K, stride: int = _X107_STRIDE, seg: int = _X107_SEG,
) -> str:
    """x107's segment layout as shareable CTEs (kmeans assign + doc
    lengths + within-cell centroid-distance rank + the segment cut,
    ending at ``s``) — factored so x143's true-neighbor repack runs over
    the IDENTICAL segments and the adjacency certificates compare
    apples-to-apples."""
    return f"""{_kmeans_assign_ctes(k, stride)},
    dl AS (SELECT doc_id AS vec_id,
                  CAST(COALESCE(LEN(list_filter(string_split(LOWER(text), ' '),
                                                x -> x <> '')), 0) AS BIGINT) AS len
           FROM documents),
    r AS (SELECT a2.vec_id, a2.cell, q.qv, dl.len,
                 ROW_NUMBER() OVER (PARTITION BY a2.cell
                                    ORDER BY a2.d2, a2.vec_id) AS crank
          FROM a2 JOIN q USING (vec_id) JOIN dl USING (vec_id)),
    s AS (SELECT *, CAST((crank - 1) // {seg} AS BIGINT) AS seg FROM r)"""


def _x107_oracle(
    k: int = _X107_K,
    stride: int = _X107_STRIDE,
    seg: int = _X107_SEG,
    budget: int = _X107_BUDGET,
) -> str:
    return f"""
    WITH {_x107_seg_ctes(k, stride, seg)},
    c AS (SELECT cell, seg, vec_id, len, qv,
                 CAST((SUM(len) OVER (PARTITION BY cell, seg ORDER BY crank
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - len) // {budget} AS BIGINT) AS chunk,
                 LEAD(qv) OVER (PARTITION BY cell, seg ORDER BY crank) AS nqv,
                 LEAD(qv) OVER (PARTITION BY cell, seg ORDER BY vec_id) AS aqv
          FROM s),
    d AS (SELECT cell, seg, len, chunk,
                 CASE WHEN nqv IS NULL THEN NULL
                      ELSE CAST(list_dot_product(
                               list_transform(qv, x -> CAST(x AS DOUBLE)),
                               list_transform(nqv, x -> CAST(x AS DOUBLE)))
                           AS BIGINT) END AS rel_dot,
                 CASE WHEN aqv IS NULL THEN NULL
                      ELSE CAST(list_dot_product(
                               list_transform(qv, x -> CAST(x AS DOUBLE)),
                               list_transform(aqv, x -> CAST(x AS DOUBLE)))
                           AS BIGINT) END AS arr_dot
          FROM c)
    SELECT cell, seg,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_chunks,
           CAST(SUM(len) AS BIGINT) AS sum_len,
           CAST(COUNT(rel_dot) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(rel_dot), 0) AS BIGINT) AS rel_adj_dot,
           CAST(COALESCE(SUM(arr_dot), 0) AS BIGINT) AS arr_adj_dot
    FROM d GROUP BY cell, seg
    """


def _x107_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x107's segment layout (engine side): kmeans cells, within-cell
    centroid-distance rank via the distributed range-sort rank (NO
    per-cell single-reducer window), the {_X107_SEG}-doc segment cut —
    shared with x143 so both packers order the IDENTICAL segments."""
    from hiveka_spark.operators.clustering import kmeans_lloyd
    from hiveka_spark.operators.sampling import global_order_rank
    from hiveka_spark.operators.similarity import quantized

    e = table(spark, sf_dir, "embeddings")
    asgn = kmeans_lloyd(
        e, "vec_id", "embedding", k=_X107_K, n_assign=2,
        centroid_stride=_X107_STRIDE,
    )
    qv = e.select("vec_id", quantized("embedding").alias("qv"))
    dl = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        F.coalesce(F.size(tokens("text")), F.lit(0)).cast("bigint").alias("len"),
    )
    t = asgn.join(qv, "vec_id").join(dl, "vec_id")
    ranked = global_order_rank(t, ["cell", "d2", "vec_id"], "pos")
    cell_off = ranked.groupBy("cell").agg(F.min("pos").alias("_off"))  # k rows
    return (
        ranked.join(F.broadcast(cell_off), "cell")
        .withColumn("crank", (F.col("pos") - F.col("_off") + 1).cast("bigint"))
        .withColumn(
            "seg", F.expr(f"CAST((crank - 1) DIV {_X107_SEG} AS BIGINT)")
        )
    )


@register(
    "x107_related_packing",
    oracle=_x107_oracle(),
    tags=("training-prep", "packing", "clustering", "similarity"),
)
def x107_related_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-context related-document packing (Shi et al. 2024, "In-Context
    Pretraining: Language Modeling Beyond Document Boundaries"): instead
    of packing context windows from documents in arrival order, group
    RELATED documents into the same window — the paper shows LMs trained
    on semantically-coherent windows use long context better.  The
    scalable surrogate for the paper's greedy nearest-neighbor chain is
    cluster-then-order: k-means cells over the embeddings (x52's
    oracle-replayed Lloyd), within each cell a distance-to-centroid
    order, then x25's cumulative-sum token packing over that order.  The
    certificate carries the claim's own evidence: per (cell, segment),
    the summed adjacent-pair dot product under the RELATED order
    (rel_adj_dot) next to the same docs' ARRIVAL order (arr_adj_dot) —
    related adjacency should dominate at the corpus level.

    Scale shape: assignment never shuffles the corpus (k-row centroid
    broadcast); the related order is the distributed range-sort rank
    (global_order_rank — NO per-cell single-reducer window; within-cell
    rank = global pos minus a broadcast k-row per-cell offset); every
    window after that is bounded by the {_X107_SEG}-doc segment, the
    production shard seam (adjacent pairs across segment boundaries are
    excluded — bounded loss, exactly the per-buffer locality the paper's
    sharded implementation accepts).  Quantized-int dots (QUANT=1e4,
    dim 64: |dot| < 2^36) are summed, never divided, so the oracle —
    which replays Lloyd, the order, the packing, and both adjacency
    channels — matches on bigint arithmetic alone.
    """
    r = _x107_ranked(spark, sf_dir)
    w_rel = Window.partitionBy("cell", "seg").orderBy("crank")
    w_arr = Window.partitionBy("cell", "seg").orderBy("vec_id")
    cum = Window.partitionBy("cell", "seg").orderBy("crank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    cum_before = F.sum("len").over(cum) - F.col("len")
    c = r.select(
        "cell", "seg", "len",
        F.floor(cum_before / F.lit(_X107_BUDGET)).cast("bigint").alias("chunk"),
        dot(F.col("qv"), F.lead("qv").over(w_rel)).alias("rel_dot"),
        dot(F.col("qv"), F.lead("qv").over(w_arr)).alias("arr_dot"),
    )
    return c.groupBy("cell", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("chunk").cast("bigint").alias("n_chunks"),
        F.sum("len").cast("bigint").alias("sum_len"),
        F.count("rel_dot").cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("rel_dot"), F.lit(0)).cast("bigint").alias("rel_adj_dot"),
        F.coalesce(F.sum("arr_dot"), F.lit(0)).cast("bigint").alias("arr_adj_dot"),
    )


# ---------------------------------------------------------------------------
# x108 — data-constrained repeat allocation (Muennighoff et al. 2023,
# "Scaling Data-Constrained Language Models")
# ---------------------------------------------------------------------------

_X108_RMAX = 5  # epoch cap per source
_X108_NUM, _X108_DEN = 3, 4  # per-epoch value retention (geometric surrogate)
_X108_BUDGET_NUM, _X108_BUDGET_DEN = 5, 2  # B = 2.5x total unique tokens


def _x108_oracle() -> str:
    R, NUM, DEN = _X108_RMAX, _X108_NUM, _X108_DEN
    BN, BD = _X108_BUDGET_NUM, _X108_BUDGET_DEN
    from hiveka_spark.queries.pipeline_ext import _x45_oracle

    # per-(source, content) uniqueness over the x45 keep flags
    return f"""
    WITH g AS ({_x45_oracle()}),
    u AS (SELECT d.source, md5(d.text) AS h,
                 CAST(MIN(g.n_words) AS BIGINT) AS n_words,
                 CAST(MIN(g.keep) AS BIGINT) AS keep
          FROM documents d JOIN g USING (doc_id)
          GROUP BY d.source, md5(d.text)),
    src AS (SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_unique_docs,
                   CAST(SUM(n_words) AS BIGINT) AS u_tokens,
                   CAST(SUM(keep) * 10000 // COUNT(*) AS BIGINT) AS q_pass_q
            FROM u GROUP BY source),
    b AS (SELECT CAST(SUM(u_tokens) * {BN} // {BD} AS BIGINT) AS budget FROM src),
    cand AS (SELECT s.source, s.n_unique_docs, s.u_tokens, s.q_pass_q, r.r,
                    CAST(s.q_pass_q
                         * CAST(pow({NUM}, r.r - 1) AS BIGINT)
                         * CAST(pow({DEN}, {R} - r.r) AS BIGINT) AS BIGINT) AS mv,
                    CAST(CAST(pow({NUM}, r.r - 1) AS BIGINT)
                         * CAST(pow({DEN}, {R} - r.r) AS BIGINT) AS BIGINT) AS wt
             FROM src s CROSS JOIN (SELECT UNNEST(range(1, {R + 1})) AS r) r),
    tk AS (SELECT *,
                  SUM(u_tokens) OVER (ORDER BY mv DESC, source, r
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM cand),
    sel AS (SELECT t.*, CASE WHEN t.cum <= b.budget THEN 1 ELSE 0 END AS taken
            FROM tk t CROSS JOIN b)
    SELECT source,
           CAST(MIN(n_unique_docs) AS BIGINT) AS n_unique_docs,
           CAST(MIN(u_tokens) AS BIGINT) AS u_tokens,
           CAST(MIN(q_pass_q) AS BIGINT) AS q_pass_q,
           CAST(COALESCE(SUM(taken), 0) AS BIGINT) AS n_epochs,
           CAST(COALESCE(SUM(taken), 0) * MIN(u_tokens) AS BIGINT) AS alloc_tokens,
           CAST(MIN(u_tokens) * COALESCE(SUM(taken * wt), 0) * 10000
                // CAST(pow({DEN}, {R} - 1) AS BIGINT) AS BIGINT) AS eff_tokens_q
    FROM sel GROUP BY source
    """


@register(
    "x108_repeat_allocation",
    oracle=_x108_oracle(),
    tags=("training-prep", "mixing", "budget", "dedup"),
)
def x108_repeat_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (Muennighoff et al. 2023): when
    the token budget exceeds the unique data, decide WHICH sources to
    repeat and how many epochs each — the paper's finding that repeating
    quality-filtered data beats adding unfiltered data, as an operator.
    The value of source s's r-th epoch decays geometrically
    ({_X108_NUM}/{_X108_DEN} per extra epoch — the engine-exact rational
    surrogate of the paper's fitted decay) and is weighted by the
    source's quality q_s (fraction of UNIQUE docs passing the x45 Gopher
    rules, micro-units): greedy maximization = take candidates (s, r) in
    (q_s * {_X108_NUM}^(r-1) * {_X108_DEN}^(RMAX-r)) descending order
    while the cumulative unique-token cost fits the budget (a prefix rule
    — the value score is strictly decreasing in r per source, so epoch r
    is never taken before r-1; complements x101, which balances LANGUAGES
    uniformly under a cap with no quality term).  Per source: unique
    tokens (exact-dedup by md5 within source — the paper's repeats are of
    DEDUPED data), the quality weight, epochs allocated, raw tokens
    consumed, and the effective fresh-token equivalent (eff_tokens_q,
    decay-weighted, micro-units).

    Scale shape: ONE corpus pass (md5-keyed dedup aggregate — the shuffle
    carries 16-byte hashes + counts, never text) into a source-keyed
    rollup; the allocation windows run on the CANDIDATE table (n_sources
    x RMAX rows, bounded ~100 — x101's bounded-by-construction posture);
    everything after is arithmetic on that table.  All bigint (pass
    fractions and effective tokens are DIV-quantized), so the DuckDB
    oracle replays dedup, quality, scoring, and the greedy prefix
    bit-for-bit."""
    from hiveka_spark.operators.text import with_gopher_rules

    R, NUM, DEN = _X108_RMAX, _X108_NUM, _X108_DEN
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    g = with_gopher_rules(d).select(
        "source", F.md5("text").alias("h"), "n_words", "keep"
    )
    u = g.groupBy("source", "h").agg(
        F.min("n_words").cast("bigint").alias("n_words"),
        F.min("keep").cast("bigint").alias("keep"),
    )
    src = (
        u.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
            F.sum("n_words").cast("bigint").alias("u_tokens"),
            F.expr("CAST(SUM(keep) * 10000 DIV COUNT(*) AS BIGINT)")
            .alias("q_pass_q"),
        )
        # bounded (n_sources rows); checkpointed so the budget branch and
        # the candidate fan-out never replay the corpus aggregate (x101)
        .localCheckpoint(eager=True)
    )
    b = src.agg(
        F.expr(
            f"CAST(SUM(u_tokens) * {_X108_BUDGET_NUM}"
            f" DIV {_X108_BUDGET_DEN} AS BIGINT)"
        ).alias("budget")
    )
    rr = spark.range(1, R + 1).select(F.col("id").cast("bigint").alias("r"))
    wt = F.expr(
        f"CAST(CAST(pow({NUM}, r - 1) AS BIGINT)"
        f" * CAST(pow({DEN}, {R} - r) AS BIGINT) AS BIGINT)"
    )
    cand = src.crossJoin(F.broadcast(rr)).select(
        "source", "n_unique_docs", "u_tokens", "q_pass_q", "r",
        (F.col("q_pass_q") * wt).cast("bigint").alias("mv"),
        wt.alias("wt"),
    )
    # allocation window: the frame is the candidate table (n_sources * RMAX
    # rows, bounded) — single-partition window bounded by construction
    w = Window.orderBy(F.desc("mv"), "source", "r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sel = (
        cand.withColumn("cum", F.sum("u_tokens").over(w).cast("bigint"))
        .crossJoin(F.broadcast(b))
        .withColumn(
            "taken",
            F.when(F.col("cum") <= F.col("budget"), 1).otherwise(0)
            .cast("bigint"),
        )
    )
    return sel.groupBy("source").agg(
        F.min("n_unique_docs").cast("bigint").alias("n_unique_docs"),
        F.min("u_tokens").cast("bigint").alias("u_tokens"),
        F.min("q_pass_q").cast("bigint").alias("q_pass_q"),
        F.coalesce(F.sum("taken"), F.lit(0)).cast("bigint").alias("n_epochs"),
        (F.coalesce(F.sum("taken"), F.lit(0)) * F.min("u_tokens"))
        .cast("bigint").alias("alloc_tokens"),
        F.expr(
            f"CAST(MIN(u_tokens) * COALESCE(SUM(taken * wt), 0) * 10000"
            f" DIV CAST(pow({DEN}, {R} - 1) AS BIGINT) AS BIGINT)"
        ).alias("eff_tokens_q"),
    )


# ---------------------------------------------------------------------------
# x109 — mid-epoch RESUME certification: restart at step k consumes exactly
# the remaining examples, certified by affine digest composition
# ---------------------------------------------------------------------------


def _x109_oracle() -> str:
    """x93's order chain, then per (epoch, order-shard): fold the full /
    prefix / suffix digest lists, recompute 31^suffix_len mod p by an
    iterative fold, and certify the affine identity
    full == (prefix * 31^len(suffix) + suffix) mod p in-oracle."""
    from hiveka_spark.operators.dedup import portable_hash60_sql

    salts = ", ".join(f"({i}, '{s}')" for i, s in enumerate(_X93_EPOCH_SALTS))
    hh = portable_hash60_sql(
        "concat(salt, CAST(shard AS VARCHAR), ':', CAST(ex_idx AS VARCHAR))"
    )

    def fold(lst: str) -> str:
        return (
            f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), {lst}),"
            f" (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)"
        )

    pw = (
        "CAST(list_reduce(list_prepend(CAST(1 AS BIGINT),"
        " list_transform(range(CAST(n_examples - k_resume AS BIGINT)),"
        " y -> CAST(31 AS BIGINT))),"
        " (acc, x) -> (acc * x) % 2147483647) AS BIGINT)"
    )
    return f"""
    WITH m AS MATERIALIZED ({_x87_oracle()}),
    t AS (SELECT e.epoch, e.salt, m.shard, m.ex_idx, m.ids_digest
          FROM m CROSS JOIN (VALUES {salts}) e(epoch, salt)),
    s AS (SELECT CAST(epoch AS BIGINT) AS epoch,
                 CAST(hh % {_X93_ORDER_SHARDS} AS BIGINT) AS ex_shard,
                 ids_digest,
                 ROW_NUMBER() OVER (PARTITION BY epoch, hh % {_X93_ORDER_SHARDS}
                                    ORDER BY hh, shard, ex_idx) AS pos
          FROM (SELECT *, {hh} AS hh FROM t)),
    w AS (SELECT epoch, ex_shard, ids_digest, pos,
                 CAST(COUNT(*) OVER (PARTITION BY epoch, ex_shard) AS BIGINT) AS n
          FROM s),
    g AS (SELECT epoch, ex_shard,
                 CAST(MIN(n) AS BIGINT) AS n_examples,
                 CAST(MIN(n) // 2 AS BIGINT) AS k_resume,
                 {fold("list(ids_digest ORDER BY pos)")} AS order_digest,
                 {fold("list(ids_digest ORDER BY pos) FILTER (pos <= n // 2)")}
                   AS prefix_digest,
                 {fold("list(ids_digest ORDER BY pos) FILTER (pos > n // 2)")}
                   AS suffix_digest
          FROM w GROUP BY epoch, ex_shard)
    SELECT epoch, ex_shard, n_examples, k_resume,
           order_digest, prefix_digest, suffix_digest,
           CAST((prefix_digest * {pw} + suffix_digest) % 2147483647 AS BIGINT)
             AS composed_digest,
           CAST(CASE WHEN (prefix_digest * {pw} + suffix_digest) % 2147483647
                          = order_digest THEN 1 ELSE 0 END AS BIGINT)
             AS resume_ok
    FROM g
    """


@register(
    "x109_resume_manifest",
    oracle=_x109_oracle(),
    tags=("training-prep", "ordering", "certification", "resume"),
)
def x109_resume_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-epoch RESUME certification: a crashed training job restarts at
    step k and must consume exactly the remaining examples in the same
    order — without replaying the consumed prefix.  Because x93's order
    digest is linear mod p, it composes over any contiguous split:
    digest(full) == (digest(prefix) * 31^len(suffix) + digest(suffix))
    mod p.  Per (epoch, order-shard) this emits the full-epoch digest,
    the prefix digest at the resume point k = n DIV 2 (what the crashed
    run's checkpoint recorded), the suffix digest the RESTARTED run
    computes over only the rows it reads (pos > k — no prefix re-read),
    the affine composition, and resume_ok — so checkpoint + restart
    together reproduce the full-run certificate or fail loudly.

    Scale shape: everything runs on the example MANIFEST (n_tokens/C
    rows); prefix/suffix digests are `segmented_order_digest` folds over
    pos-filtered frames (bounded buffers; no reindex needed — the affine
    fold is split-invariant over any strictly-increasing pos); the
    carry 31^len(suffix) comes from a broadcast power table over the
    bounded distinct suffix lengths (driver pow, the
    composed_order_digest posture).  The oracle replays packing, the
    epoch order, all three digests, AND the composition identity."""
    from hiveka_spark.operators.sampling import (
        _DIGEST_MOD,
        segmented_order_digest,
    )

    s = _x93_ranked(spark, sf_dir).localCheckpoint(eager=True)
    counts = s.groupBy("epoch", "ex_shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples")
    )
    k_tbl = counts.select(
        "epoch", "ex_shard", "n_examples",
        F.expr("CAST(n_examples DIV 2 AS BIGINT)").alias("k_resume"),
    )
    t = s.join(F.broadcast(k_tbl), ["epoch", "ex_shard"])
    full = segmented_order_digest(
        s, ("epoch", "ex_shard"), "pos", "ids_digest",
        out_col="order_digest", seg_size=64,
    )
    pre = segmented_order_digest(
        t.filter(F.col("pos") <= F.col("k_resume")),
        ("epoch", "ex_shard"), "pos", "ids_digest",
        out_col="prefix_digest", seg_size=64,
    )
    suf = segmented_order_digest(
        t.filter(F.col("pos") > F.col("k_resume")),
        ("epoch", "ex_shard"), "pos", "ids_digest",
        out_col="suffix_digest", seg_size=64,
    )
    j = (
        k_tbl.join(full, ["epoch", "ex_shard"])
        .join(pre, ["epoch", "ex_shard"], "left")
        .join(suf, ["epoch", "ex_shard"], "left")
        .select(
            "epoch", "ex_shard", "n_examples", "k_resume",
            "order_digest",
            F.coalesce("prefix_digest", F.lit(0)).cast("bigint")
            .alias("prefix_digest"),
            F.coalesce("suffix_digest", F.lit(0)).cast("bigint")
            .alias("suffix_digest"),
            (F.col("n_examples") - F.col("k_resume")).alias("_slen"),
        )
    )
    # 31^suffix_len mod p: bounded distinct lengths (one per shard row)
    slens = sorted(
        int(r[0]) for r in j.select("_slen").distinct().collect()
    )
    pow_tbl = spark.createDataFrame(
        [(n, pow(31, n, _DIGEST_MOD)) for n in slens] or [(0, 1)],
        "_slen bigint, _pw bigint",
    )
    p = F.lit(_DIGEST_MOD).cast("bigint")
    out = j.join(F.broadcast(pow_tbl), "_slen").withColumn(
        "composed_digest",
        ((F.col("prefix_digest") * F.col("_pw") + F.col("suffix_digest")) % p)
        .cast("bigint"),
    )
    return out.select(
        "epoch", "ex_shard", "n_examples", "k_resume",
        "order_digest", "prefix_digest", "suffix_digest", "composed_digest",
        F.when(F.col("composed_digest") == F.col("order_digest"), 1)
        .otherwise(0).cast("bigint").alias("resume_ok"),
    )


# ---------------------------------------------------------------------------
# x110 — length-grouped batching: padding-waste certification (Morishita
# et al. 2017, "An Empirical Study of Mini-Batch Creation Strategies for
# Neural Machine Translation")
# ---------------------------------------------------------------------------

_X110_BATCH = 16  # examples per batch (pad-to-longest within batch)


def _x110_oracle(b: int = _X110_BATCH) -> str:
    return f"""
    WITH dl AS (SELECT doc_id,
                       CAST(COALESCE(LEN(list_filter(string_split(LOWER(text), ' '),
                                                     x -> x <> '')), 0) AS BIGINT)
                         AS len
                FROM documents),
    r AS (SELECT doc_id, len,
                 CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {b} AS BIGINT)
                   AS arr_batch,
                 CAST((ROW_NUMBER() OVER (ORDER BY len DESC, doc_id) - 1) // {b}
                      AS BIGINT) AS lg_batch
          FROM dl),
    pol AS (SELECT 'arrival' AS policy, arr_batch AS batch, len FROM r
            UNION ALL
            SELECT 'length_grouped' AS policy, lg_batch AS batch, len FROM r),
    per AS (SELECT policy, batch,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len) AS BIGINT) AS sum_len,
                   CAST(COUNT(*) * MAX(len) AS BIGINT) AS padded
            FROM pol GROUP BY policy, batch)
    SELECT policy,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(sum_len) AS BIGINT) AS sum_tokens,
           CAST(SUM(padded) AS BIGINT) AS padded_tokens,
           CAST(SUM(padded) - SUM(sum_len) AS BIGINT) AS pad_waste,
           CAST(SUM(sum_len) * 10000 // SUM(padded) AS BIGINT) AS utilization_q
    FROM per GROUP BY policy
    """


@register(
    "x110_length_batching",
    oracle=_x110_oracle(),
    tags=("training-prep", "batching", "efficiency"),
)
def x110_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching (Morishita et al. 2017; the
    LengthGroupedSampler every trainer ships): batches padded to their
    longest member waste compute proportional to within-batch length
    spread, so grouping similar-length examples into the same batch cuts
    padding FLOPs — this certifies exactly how much, on this corpus.
    Both policies are materialized side by side: arrival order (batch =
    doc rank DIV {_X110_BATCH}) vs length-grouped (rank under
    (len DESC, doc_id)); per policy the report carries batch count, real
    tokens, padded tokens (ragged last batch: count * max, not b * max),
    absolute waste, and DIV-quantized utilization — length-grouped
    utilization should dominate, pinned in tests.

    Scale shape: both ranks are ONE distributed range-sort each
    (global_order_rank — no single-reducer window), the per-batch rollup
    is a map-side-combinable keyed aggregate (batch ids are dense
    bigints), and the policy report is a 2-row table.  All-integer
    arithmetic, so the oracle replays both policies exactly."""
    from hiveka_spark.operators.sampling import global_order_rank

    b = _X110_BATCH
    dl = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.size(tokens("text")), F.lit(0)).cast("bigint").alias("len"),
    )
    arr = global_order_rank(dl, ["doc_id"], "arr_pos")
    lg = global_order_rank(
        arr.withColumn("_neg", (-F.col("len")).cast("bigint")),
        ["_neg", "doc_id"],
        "lg_pos",
    )
    r = lg.select(
        "len",
        F.expr(f"CAST((arr_pos - 1) DIV {b} AS BIGINT)").alias("arr_batch"),
        F.expr(f"CAST((lg_pos - 1) DIV {b} AS BIGINT)").alias("lg_batch"),
    )
    pol = r.select(
        F.lit("arrival").alias("policy"), F.col("arr_batch").alias("batch"), "len"
    ).unionByName(
        r.select(
            F.lit("length_grouped").alias("policy"),
            F.col("lg_batch").alias("batch"), "len",
        )
    )
    per = pol.groupBy("policy", "batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("len").cast("bigint").alias("sum_len"),
        (F.count(F.lit(1)) * F.max("len")).cast("bigint").alias("padded"),
    )
    return per.groupBy("policy").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum("sum_len").cast("bigint").alias("sum_tokens"),
        F.sum("padded").cast("bigint").alias("padded_tokens"),
        (F.sum("padded") - F.sum("sum_len")).cast("bigint").alias("pad_waste"),
        F.expr("CAST(SUM(sum_len) * 10000 DIV SUM(padded) AS BIGINT)")
        .alias("utilization_q"),
    )


# ---------------------------------------------------------------------------
# x111 — frequent n-gram motif mining (corpus-wide repeated-phrase report)
# ---------------------------------------------------------------------------

_X111_N = 5  # words per gram
_X111_TOPK = 40


def _x111_oracle(n: int = _X111_N, topk: int = _X111_TOPK) -> str:
    return f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(LOWER(text), ' '), x -> x <> '')
                        AS ws
               FROM documents),
    gr AS (SELECT doc_id, array_to_string(ws[i:i+{n - 1}], ' ') AS gram
           FROM (SELECT doc_id, ws,
                        UNNEST(generate_series(1, GREATEST(LEN(ws) - {n - 1}, 1)))
                          AS i
                 FROM w)),
    dg AS (SELECT gram, doc_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM gr GROUP BY gram, doc_id),
    st AS (SELECT gram,
                  CAST(COUNT(*) AS BIGINT) AS df,
                  CAST(SUM(c) AS BIGINT) AS tf
           FROM dg GROUP BY gram)
    SELECT gram, df, tf
    FROM st ORDER BY df DESC, tf DESC, gram LIMIT {topk}
    """


@register(
    "x111_frequent_ngrams",
    oracle=_x111_oracle(),
    tags=("text", "boilerplate", "dedup", "metrics"),
)
def x111_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent-phrase mining: the top-{_X111_TOPK}
    {_X111_N}-word grams by document frequency (ties: total occurrences,
    then gram) — the discovery pass that FEEDS boilerplate removal (x31)
    and substring dedup (x96): before setting a repeated-chunk threshold
    you look at what actually repeats (license headers, navigation
    chrome, template sentences — Lee et al. 2022 §5's memorized-
    boilerplate motifs).  Emits (gram, df, tf); df != tf separates
    cross-document boilerplate from within-document repetition (x29's
    signal).

    Scale shape: the gram explode is map-only; the (gram, doc) pre-
    aggregate collapses within-doc repeats BEFORE the gram-keyed rollup
    (both map-side combinable — the first shuffle's rows are already
    deduplicated mass), and the top-K is TakeOrderedAndProject (never a
    global sort).  Degenerate short docs follow word_ngrams' whole-text
    single-gram convention, mirrored in the oracle."""
    from hiveka_spark.operators.dedup import word_ngrams

    d = table(spark, sf_dir, "documents")
    gr = d.select(
        "doc_id", F.explode(word_ngrams("text", _X111_N)).alias("gram")
    )
    dg = gr.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    st = dg.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tf"),
    )
    return st.orderBy(F.desc("df"), F.desc("tf"), "gram").limit(_X111_TOPK)


# ---------------------------------------------------------------------------
# x113 — repeat-materialized mixture stream: x108's allocation turned into
# the actual certified training order (allocation -> stream composition)
# ---------------------------------------------------------------------------

_X113_SHARDS = 4
_X113_SALT = "mix113_"


def _x113_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    hh = portable_hash60_sql(
        f"concat('{_X113_SALT}', CAST(epoch AS VARCHAR), ':',"
        f" CAST(doc_id AS VARCHAR))"
    )
    return f"""
    WITH alloc AS ({_x108_oracle()}),
    rep AS (SELECT source, MIN(doc_id) AS doc_id
            FROM documents GROUP BY source, md5(text)),
    stream AS (SELECT r.doc_id, r.source, e.epoch
               FROM rep r
               JOIN alloc a ON a.source = r.source
               JOIN (SELECT UNNEST(range(1, {_X108_RMAX + 1})) AS epoch) e
                 ON e.epoch <= a.n_epochs),
    s AS (SELECT doc_id, source, epoch,
                 CAST(hh % {_X113_SHARDS} AS BIGINT) AS ex_shard,
                 ROW_NUMBER() OVER (PARTITION BY hh % {_X113_SHARDS}
                                    ORDER BY hh, source, epoch, doc_id) AS pos
          FROM (SELECT *, {hh} AS hh FROM stream))
    SELECT ex_shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                         list(doc_id ORDER BY pos)),
                            (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
             AS order_digest
    FROM s GROUP BY ex_shard
    """


@register(
    "x113_mixture_stream",
    oracle=_x113_oracle(),
    tags=("training-prep", "mixing", "ordering", "certification"),
)
def x113_mixture_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-materialized mixture stream: the missing link between the
    ALLOCATION tables (x101/x108 say how many epochs of each source) and
    the ORDER/PACKING certificates (x65/x93 certify one corpus's order)
    — a trainer consumes the allocation as an actual interleaved stream
    of repeated documents, and this materializes and certifies it.  Each
    source's UNIQUE docs (exact-dedup representative: min doc_id per
    (source, md5) — the same unique set x108 budgeted) appear once per
    allocated epoch; every (epoch, doc) occurrence hashes independently
    to an order-shard and position (epoch in the salt — repeats of a doc
    land in unrelated places, never adjacent, the x93 recipe), and the
    per-shard order digest certifies exactly which occurrences a job
    reads and in what order.  Interleaving across sources is automatic:
    the hash order is source-blind, so a shard's stream mixes sources in
    allocation proportion without a scheduler.

    Scale shape: the allocation is x108's (bounded candidate-table
    windows); the epoch fan-out is a broadcast join against the
    {_X108_RMAX}-row epoch range (no corpus-side explode buffers); the
    one exchange is the order-shard hash partition; digests fold
    segmented (bounded buffers).  The DuckDB oracle embeds x108's full
    oracle as a CTE and replays dedup, allocation, fan-out, order, and
    digest."""
    from hiveka_spark.operators.dedup import portable_hash60
    from hiveka_spark.operators.sampling import segmented_order_digest

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rep = d.groupBy("source", F.md5("text").alias("h")).agg(
        F.min("doc_id").cast("bigint").alias("doc_id")
    ).select("source", "doc_id")
    alloc = x108_repeat_allocation(spark, sf_dir).select("source", "n_epochs")
    epochs = spark.range(1, _X108_RMAX + 1).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    stream = (
        rep.join(F.broadcast(alloc), "source")
        .join(F.broadcast(epochs), F.col("epoch") <= F.col("n_epochs"))
        .select("doc_id", "source", "epoch")
    )
    hh = portable_hash60(
        F.concat(
            F.lit(_X113_SALT),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    t = stream.withColumn("hh", hh).withColumn(
        "ex_shard", F.pmod(F.col("hh"), F.lit(_X113_SHARDS)).cast("bigint")
    )
    w = Window.partitionBy("ex_shard").orderBy("hh", "source", "epoch", "doc_id")
    s = t.withColumn("pos", F.row_number().over(w)).localCheckpoint(eager=True)
    counts = s.groupBy("ex_shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_distinct_docs"),
    )
    digests = segmented_order_digest(
        s, "ex_shard", "pos", "doc_id", out_col="order_digest", seg_size=64
    )
    return counts.join(digests, "ex_shard").select(
        "ex_shard", "n_rows", "n_distinct_docs",
        F.col("order_digest").cast("bigint").alias("order_digest"),
    )


# ---------------------------------------------------------------------------
# x115 — vocabulary utilization report (Gowda & May 2020, "Finding the
# Optimal Vocabulary Size for Neural Machine Translation")
# ---------------------------------------------------------------------------


def _x115_oracle(n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS) -> str:
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    mass0 AS (SELECT us.id, CAST(COUNT(*) AS BIGINT) AS m
              FROM docunits du JOIN unit_syms us ON us.u = du.u
              GROUP BY us.id),
    per AS (SELECT CAST(LENGTH(v.sym) AS BIGINT) AS sym_len,
                   COALESCE(m.m, 0) AS m
            FROM vocab v LEFT JOIN mass0 m USING (id)),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS t FROM per)
    SELECT sym_len,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
           CAST(SUM(m) AS BIGINT) AS mass,
           CAST(SUM(m) * 10000 // t.t AS BIGINT) AS mass_share_q
    FROM per CROSS JOIN tot t GROUP BY sym_len, t.t
    """


@register(
    "x115_vocab_utilization",
    oracle=_x115_oracle(),
    tags=("tokenizer", "bpe", "evaluation", "vocabulary"),
)
def x115_vocab_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary UTILIZATION of the trained tokenizer (Gowda & May 2020:
    vocabulary size should be set where token-frequency mass is still
    well-distributed — oversized vocabularies carry dead and
    starved-embedding tokens): per symbol LENGTH, how many vocabulary
    entries exist, how many are actually used by the corpus
    tokenization, their total token mass, and the mass share
    (micro-units).  Dead long merges (n_vocab >> n_used at high sym_len)
    mean n_merges overshot this corpus; heavy single-char mass means it
    undershot — the table that sizes the x76/x98 training knobs.

    Scale shape: usage NEVER tokenizes the corpus again and never
    explodes the token stream — the distinct-unit table (zipfian-
    bounded) is encoded once (broadcast merges, one bounded Arrow
    mapInPandas), each unit's ids explode weighted by the unit's corpus
    frequency (one map-side-combinable id-keyed aggregate), and the
    vocabulary join is a broadcast of the vocab-sized table.  The
    oracle replays training, the per-unit apply, and the mass rollup
    from docunits x unit_syms."""
    from hiveka_spark.operators.bpe import bpe_encode_ids

    d = table(spark, sf_dir, "documents")
    # ONE corpus pass (r16): the trainer's materialized unit-frequency
    # frame IS the distinct-unit usage table this gate encodes
    merges, vocab, wf = _trained_merge_vocab_wf(d)
    uf = wf.withColumn("uid", F.col("w"))
    enc = bpe_encode_ids(
        uf, merges, vocab, text_col="w", id_col="uid", keep_cols=("freq",)
    )
    mass0 = (
        enc.select(F.explode("ids").alias("id"), "freq")
        .groupBy("id")
        .agg(F.sum("freq").cast("bigint").alias("m"))
    )
    vdf = spark.createDataFrame(
        [(s, i) for s, i in vocab.items()], "sym string, id bigint"
    )
    per = vdf.join(mass0, "id", "left").select(
        F.length("sym").cast("bigint").alias("sym_len"),
        F.coalesce("m", F.lit(0)).cast("bigint").alias("m"),
    )
    tot = per.agg(F.sum("m").cast("bigint").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("sym_len", "t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_used"),
            F.sum("m").cast("bigint").alias("mass"),
        )
        .select(
            "sym_len", "n_vocab", "n_used", "mass",
            F.expr("CAST(mass * 10000 DIV t AS BIGINT)").alias("mass_share_q"),
        )
    )


# ---------------------------------------------------------------------------
# x120 — deployment-pruned tokenizer: ship only the merges a serving corpus
# exercises, with a behavior-preservation certificate
# ---------------------------------------------------------------------------

_X120_MOD = 25  # serving subset: doc_id % MOD == 0 (narrow enough that pruning bites)


def _x120_oracle(
    n_merges: int = _X76_MERGES, max_words: int = _X76_MAX_WORDS,
    mod: int = _X120_MOD,
) -> str:
    return f"""
    WITH RECURSIVE {_bpe_apply_ctes(n_merges, max_words)},
    {_BPE_VOCAB_CTES},
    lens AS (SELECT it, w, CAST(COUNT(*) AS BIGINT) AS L FROM ap GROUP BY it, w),
    ucount AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS uc
               FROM docunits WHERE doc_id % {mod} = 0 GROUP BY u),
    fires AS (SELECT l1.it AS merge_rank,
                     CAST(SUM((l0.L - l1.L) * uc.uc) AS BIGINT) AS fired
              FROM lens l1
              JOIN lens l0 ON l0.w = l1.w AND l0.it = l1.it - 1
              JOIN ucount uc ON uc.u = l1.w
              WHERE l1.it >= 1 GROUP BY l1.it),
    np AS (SELECT CAST((SELECT COUNT(*) FROM merges)
                       - COUNT(*) AS BIGINT) AS n_pruned
           FROM fires WHERE fired > 0),
    seqs AS MATERIALIZED (
      SELECT du.doc_id, us.id,
             ROW_NUMBER() OVER (PARTITION BY du.doc_id
                                ORDER BY du.upos, us.pos) AS ti,
             COUNT(*) OVER (PARTITION BY du.doc_id) AS n
      FROM docunits du JOIN unit_syms us ON us.u = du.u
      WHERE du.doc_id % {mod} = 0),
    maxn AS MATERIALIZED (SELECT COALESCE(MAX(n), 0) AS m FROM seqs),
    pw AS (SELECT CAST(0 AS BIGINT) AS k, CAST(1 AS BIGINT) AS v
           UNION ALL
           SELECT k + 1, (v * 31) % 2147483647 FROM pw
           WHERE k < (SELECT m FROM maxn)),
    dig AS (
      SELECT doc_id,
             CAST(MAX(n) AS BIGINT) AS n_tokens,
             CAST(SUM((s.id * p.v) % 2147483647) % 2147483647 AS BIGINT)
               AS ids_digest
      FROM seqs s JOIN pw p ON p.k = s.n - s.ti
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(g.ids_digest, 0) AS BIGINT) AS ids_digest,
           np.n_pruned
    FROM documents d LEFT JOIN dig g ON g.doc_id = d.doc_id
    CROSS JOIN np
    WHERE d.doc_id % {mod} = 0
    """


@register(
    "x120_pruned_tokenizer",
    oracle=_x120_oracle(),
    tags=("tokenizer", "bpe", "pruning", "certification", "serving"),
)
def x120_pruned_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment-PRUNED tokenizer: a domain pipeline serving a narrower
    corpus than the tokenizer was trained on ships only the merges that
    corpus exercises (x115's dead-merge report, acted on) — valid
    because the certified apply runs merges SEQUENTIALLY in rank order,
    so a merge that fires zero times on the serving corpus is a no-op
    pass and removing it cannot change any output; relative rank order
    of the kept merges is preserved.  The certificate is the strongest
    available: per-doc (n_tokens, ids_digest) computed with the PRUNED
    table must equal the UNPRUNED oracle replay digest-for-digest (an
    over-prune — removing a merge that fires — breaks the hashes
    loudly), and n_pruned itself is oracle-checked from the apply
    recursion's per-iteration symbol-count drops.

    Scale shape: fire counting runs once per DISTINCT serving unit
    (zipfian-bounded mapInPandas replaying the rank-order pass — the
    per-unit loop is the _merge_unit semantics), weighted by unit
    occurrence counts (one keyed aggregate); the pruned-table collect
    is n_merges rows; the re-encode is the flat x80 path."""
    from hiveka_spark.operators.bpe import bpe_encode_ids, unit_freq

    d = table(spark, sf_dir, "documents")
    merges, vocab = _trained_merge_vocab(d)
    sub = d.filter(F.col("doc_id") % _X120_MOD == 0)
    uf = unit_freq(sub, "text")

    bc = spark.sparkContext.broadcast(merges)

    def count_fires(batches):
        import pandas as pd

        ms = bc.value
        for pdf in batches:
            ranks, cnts = [], []
            for w, freq in zip(pdf["w"], pdf["freq"]):
                syms = list(str(w))
                for rank, (a, b) in enumerate(ms, 1):
                    if len(syms) < 2:
                        break
                    new, i, c = [], 0, 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == a
                            and syms[i + 1] == b
                        ):
                            new.append(a + b)
                            i += 2
                            c += 1
                        else:
                            new.append(syms[i])
                            i += 1
                    syms = new
                    if c:
                        ranks.append(rank)
                        cnts.append(c * int(freq))
            yield pd.DataFrame({"merge_rank": ranks, "fired": cnts})

    fires = (
        uf.mapInPandas(count_fires, "merge_rank bigint, fired bigint")
        .groupBy("merge_rank")
        .agg(F.sum("fired").cast("bigint").alias("fired"))
    )
    fired_ranks = {
        int(r["merge_rank"]) for r in fires.filter(F.col("fired") > 0).collect()
    }  # bounded: n_merges rows
    kept = [mg for i, mg in enumerate(merges, 1) if i in fired_ranks]
    n_pruned = len(merges) - len(kept)

    enc = bpe_encode_ids(sub, kept, vocab, "text", "doc_id", units=True)
    p = F.lit(2147483647).cast("bigint")
    return enc.select(
        "doc_id",
        F.size("ids").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "ids", F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 31 + x) % p,
        ).cast("bigint").alias("ids_digest"),
        F.lit(n_pruned).cast("bigint").alias("n_pruned"),
    )


# ---------------------------------------------------------------------------
# x123 — dev-set CHURN across corpus versions: rank-k vs hash-threshold
# selection stability (the held-out set must not silently rotate under
# corpus growth)
# ---------------------------------------------------------------------------

_X123_K = 32  # rank policy: exact-k dev set
_X123_PCT = 20  # threshold policy: h % 1000 < PCT (2%)


def _x123_oracle(k: int = _X123_K, pct: int = _X123_PCT) -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("concat('dev_', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH d AS (SELECT doc_id, {h} AS h FROM documents),
    v1 AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
    r1 AS (SELECT doc_id FROM (SELECT doc_id,
                                      ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rn
                               FROM v1) WHERE rn <= {k}),
    rf AS (SELECT doc_id FROM (SELECT doc_id,
                                      ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rn
                               FROM d) WHERE rn <= {k}),
    t1 AS (SELECT doc_id FROM v1 WHERE h % 1000 < {pct}),
    tf AS (SELECT doc_id FROM d WHERE h % 1000 < {pct}),
    pol AS (
      SELECT 'rank_k' AS policy,
             (SELECT COUNT(*) FROM r1) AS n_v1,
             (SELECT COUNT(*) FROM rf) AS n_full,
             (SELECT COUNT(*) FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM rf))
               AS n_evicted,
             (SELECT COUNT(*) FROM rf WHERE doc_id NOT IN (SELECT doc_id FROM r1))
               AS n_added
      UNION ALL
      SELECT 'threshold',
             (SELECT COUNT(*) FROM t1),
             (SELECT COUNT(*) FROM tf),
             (SELECT COUNT(*) FROM t1 WHERE doc_id NOT IN (SELECT doc_id FROM tf)),
             (SELECT COUNT(*) FROM tf WHERE doc_id NOT IN (SELECT doc_id FROM t1)))
    SELECT policy, CAST(n_v1 AS BIGINT) AS n_v1, CAST(n_full AS BIGINT) AS n_full,
           CAST(n_evicted AS BIGINT) AS n_evicted, CAST(n_added AS BIGINT) AS n_added
    FROM pol
    """


@register(
    "x123_devset_churn",
    oracle=_x123_oracle(),
    tags=("sampling", "versioned-corpus", "evaluation", "determinism"),
)
def x123_devset_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dev-set CHURN under corpus growth — the held-out-set stability
    certificate: x57's exact-k hash-rank carve is deterministic for a
    FIXED corpus, but when a new version lands, fresh docs with smaller
    hashes ENTER the top-k and EVICT previously held-out docs — eval
    numbers silently stop being comparable across corpus versions.  The
    hash-THRESHOLD policy (keep iff h % 1000 < {_X123_PCT}) trades exact
    size for monotone stability: a selected doc can never be evicted by
    growth (membership depends only on the doc's own hash).  This gate
    materializes both policies on v1 and on v1+v2 and reports
    (n_v1, n_full, n_evicted, n_added) per policy — threshold's
    n_evicted is structurally 0 (test-pinned), rank-k's is the measured
    churn; the size drift is the price, quantified in the same row.

    Scale shape: the threshold policy is a zero-shuffle predicate; the
    rank policy is a TakeOrdered top-{_X123_K} (never a global sort);
    the churn comparison is a k-row anti-join.  Everything hashes, so
    the DuckDB oracle replays both policies and every count."""
    from hiveka_spark.operators.dedup import portable_hash60

    k = _X123_K
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        portable_hash60(
            F.concat(F.lit("dev_"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    v1 = d.filter(F.col("doc_id") % 7 != 0)

    def rank_sel(df: DataFrame) -> DataFrame:
        return df.orderBy("h", "doc_id").limit(k).select("doc_id")

    def thr_sel(df: DataFrame) -> DataFrame:
        return df.filter(F.col("h") % 1000 < _X123_PCT).select("doc_id")

    def row(policy: str, s1: DataFrame, sf: DataFrame) -> DataFrame:
        ev = s1.join(sf, "doc_id", "left_anti")
        ad = sf.join(s1, "doc_id", "left_anti")
        return (
            s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_v1"))
            .crossJoin(sf.agg(F.count(F.lit(1)).cast("bigint").alias("n_full")))
            .crossJoin(
                ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_evicted"))
            )
            .crossJoin(ad.agg(F.count(F.lit(1)).cast("bigint").alias("n_added")))
            .select(F.lit(policy).alias("policy"), "n_v1", "n_full",
                    "n_evicted", "n_added")
        )

    return row("rank_k", rank_sel(v1), rank_sel(d)).unionByName(
        row("threshold", thr_sel(v1), thr_sel(d))
    )


# ---------------------------------------------------------------------------
# x128 — PHYSICAL export of the best-fit-packed bins (x103's terminal
# artifact, the x88 discipline applied to whole-document packing)
# ---------------------------------------------------------------------------


def _x128_oracle() -> str:
    from hiveka_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql("w")
    return f"""
    WITH RECURSIVE {_x103_ctes()},
    asg AS (SELECT g, i, doc_id, len, bin FROM rec WHERE doc_id IS NOT NULL),
    w0 AS (SELECT doc_id,
                  list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
           FROM documents),
    wid AS (SELECT doc_id, wpos, {h} AS id FROM (
        SELECT doc_id, UNNEST(range(1, LEN(ws) + 1)) AS wpos, UNNEST(ws) AS w
        FROM w0)),
    seq AS (SELECT a.g, a.bin, a.doc_id, w.id,
                   ROW_NUMBER() OVER (PARTITION BY a.g, a.bin
                                      ORDER BY a.i, w.wpos) AS rn
            FROM asg a JOIN wid w ON w.doc_id = a.doc_id),
    d0 AS (SELECT g, bin, doc_id, MIN(rn) AS r0 FROM seq GROUP BY g, bin, doc_id),
    st AS (SELECT g, bin,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                list(r0 ORDER BY r0)),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
                    AS starts_digest
           FROM d0 GROUP BY g, bin),
    ex AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                list(id ORDER BY rn)),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT)
                    AS ids_digest
           FROM seq GROUP BY g, bin)
    SELECT e.g AS shard, CAST(e.bin AS BIGINT) AS ex_idx,
           e.n_tokens, e.n_docs, e.ids_digest, s.starts_digest
    FROM ex e JOIN st s ON s.g = e.g AND s.bin = e.bin
    """


@register(
    "x128_bfd_export",
    oracle=_x128_oracle(),
    tags=("training-prep", "export", "packing", "certification"),
)
def x128_bfd_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The best-fit-packed dataset as a SHIPPED artifact — x103 emitted
    bin ASSIGNMENTS only; this is its physical counterpart under x88's
    read-back discipline, closing the packing-export matrix's last cell
    ({fixed-length, whole-doc-BFD} x {assignment, physical export}).
    Each (pack-group, bin) becomes an actual example row: the member
    documents' word-id streams (portable 60-bit word hashes — the
    engine-portable id space the dedup family already certifies)
    concatenated in INSERTION order (len DESC, doc_id — exactly the BFD
    loop's order), with 0-based doc-start positions for attention
    masking.  Rows are physically written as shard-partitioned parquet,
    READ BACK, and the manifest — (n_tokens, n_docs, ids_digest,
    starts_digest) per bin — is derived ENTIRELY from the read-back
    arrays (read_back_example_manifest, the exact digest contract x88
    ships); the oracle re-derives every bin from the source table
    through x103's recursive BFD-loop replay.  A hash match certifies
    the bytes on disk are exactly the BFD packing: any dropped doc,
    mis-ordered member, or boundary slip mismatches.

    Scale shape: x103's one groupBy exchange into the bounded per-group
    BFD loop; the example build is one more (g, bin) aggregate whose
    payload is the ids themselves (the write's own volume); read-back
    digests are JVM array folds, map-only.  Scratch dir deleted eagerly
    (bench reruns)."""
    import shutil

    from hiveka_spark.operators.dedup import portable_hash60
    from hiveka_spark.operators.sampling import read_back_example_manifest

    d = table(spark, sf_dir, "documents")
    assign = x103_bestfit_packing(spark, sf_dir)
    ids = d.select(
        "doc_id",
        F.transform(tokens("text"), lambda w: portable_hash60(w)).alias("ids"),
    )
    joined = assign.join(ids, "doc_id").withColumn(
        "nl", (-F.col("len")).cast("bigint")
    )
    per_bin = joined.groupBy("g", "bin").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("nl"), F.col("doc_id"), F.col("ids")))
        ).alias("docs")
    )
    empty = F.expr("CAST(array() AS array<bigint>)")
    packed = per_bin.select(
        F.col("g").cast("bigint").alias("shard"),
        F.col("bin").cast("bigint").alias("ex_idx"),
        F.flatten(F.transform("docs", lambda s: s["ids"])).alias("ids"),
        F.aggregate(
            "docs",
            F.struct(empty.alias("st"), F.lit(0).cast("bigint").alias("pos")),
            lambda acc, s: F.struct(
                F.concat(acc["st"], F.array(acc["pos"])).alias("st"),
                (acc["pos"] + F.size(s["ids"])).cast("bigint").alias("pos"),
            ),
            lambda acc: acc["st"],
        ).alias("starts"),
        F.size("docs").cast("bigint").alias("n_docs"),
    )
    out_dir = scratch_dir(prefix="gate_x128export_")
    packed.write.mode("overwrite").partitionBy("shard").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    manifest = read_back_example_manifest(back).localCheckpoint(eager=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return manifest


# ---------------------------------------------------------------------------
# x136 — PQ reconstruction-error report: the quantization-quality table that
# sizes the (m, k) codebook choice before an index build
# ---------------------------------------------------------------------------

_X136_M = 16
_X136_DSUB = 4
_X136_CENT = 64
_X136_STRIDE = 7
_X136_ITERS = 4


def _x136_oracle(
    m: int = _X136_M,
    dsub: int = _X136_DSUB,
    n_cent: int = _X136_CENT,
    stride: int = _X136_STRIDE,
    n_iters: int = _X136_ITERS,
) -> str:
    pq_d2 = _PQ_D2_SQL.format(a="s.sv", b="c.cv")
    train, final = _pq_train_chain_sql(dsub, stride, n_cent, m, n_iters)
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
               FROM embeddings),
    sub AS (SELECT vec_id, CAST(s AS BIGINT) AS sub,
                   qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)] AS svq,
                   list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                                  x -> CAST(x AS DOUBLE)) AS sv
            FROM q CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    pcents0 AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
                FROM sub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    {",".join(train)},
    asgn AS (SELECT s.vec_id, s.sub, c.code, {pq_d2} AS d2
             FROM sub s JOIN {final} c USING (sub)),
    best AS (SELECT vec_id, sub, code, d2
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                ORDER BY d2, code) AS r
                   FROM asgn)
             WHERE r = 1)
    SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes_used,
           CAST(SUM(d2) AS BIGINT) AS total_d2,
           CAST(SUM(d2) // COUNT(*) AS BIGINT) AS mean_d2_q
    FROM best GROUP BY sub
    """


@register(
    "x136_pq_reconstruction_error",
    oracle=_x136_oracle(),
    tags=("similarity", "ann", "pq", "evaluation", "certification"),
)
def x136_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ RECONSTRUCTION-ERROR report — the quantization-quality table
    (Jégou et al. 2011 §IV's distortion measure) a pipeline reads before
    committing an index build: per subspace, the vector count, the number
    of codewords actually USED (dead codes mean k is oversized or seeds
    were unlucky), the total integer squared-L2 between each subvector
    and its assigned trained codeword, and the mean (bigint DIV).  Rising
    per-subspace distortion is what justifies more centroids, a finer
    subspace split, or the residual/OPQ arms (x84, x129); x135's
    compacted index inherits exactly this error.

    Scale shape: codebook training is train_pq_codebooks' joint
    broadcast-join Lloyd (all m subspaces per pass, map-side-combinable
    argmin + one keyed update aggregate); the error pass is ONE broadcast
    join of the m*{_X136_CENT}-row codebook frame against the subvector
    rows and ONE m-row rollup — the corpus never shuffles.  The oracle
    replays the full training via the SHARED chain builder
    (:func:`_pq_train_chain_sql` — the same text x84/x77 certify against)
    and re-derives every assignment and distance."""
    from hiveka_spark.operators.similarity import (
        _pq_best,
        pq_subvectors_shared,
        train_pq_codebooks,
    )

    e = table(spark, sf_dir, "embeddings")
    # ONE materialized subvector frame (r16) feeds every Lloyd pass AND
    # the error pass: scan + subspace split paid once; assignment is the
    # per-row broadcast-array argmin (no corpus Sort/Exchange)
    c_sub = pq_subvectors_shared(
        e, "vec_id", "embedding", m=_X136_M, dim=_X136_M * _X136_DSUB
    )
    books = train_pq_codebooks(
        e, m=_X136_M, dim=_X136_M * _X136_DSUB, n_centroids=_X136_CENT,
        centroid_stride=_X136_STRIDE, n_iters=_X136_ITERS, subvectors=c_sub,
    ).localCheckpoint(eager=True)  # bounded: m * n_centroids rows
    best = _pq_best(c_sub, books, _X136_DSUB).select("sub", "d2", "code")
    return best.groupBy("sub").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.countDistinct("code").cast("bigint").alias("n_codes_used"),
        F.sum("d2").cast("bigint").alias("total_d2"),
        F.expr("SUM(d2) DIV COUNT(*)").cast("bigint").alias("mean_d2_q"),
    )


# ---------------------------------------------------------------------------
# x140 — OPQ-rotated PQ: consume the x129 basis in the PQ coding path and
# certify the rotated-vs-raw distortion table (Ge et al. 2014)
# ---------------------------------------------------------------------------

_X140_M = 16
_X140_DSUB = 4
_X140_CENT = 64
_X140_STRIDE = 7
_X140_ITERS = 2


def _x140_axes() -> list[int]:
    """Target axes of the width-m OPQ front: direction j lands on the
    LEADING coordinate of subspace j (variance balancing — one learned
    direction per PQ subspace, never four fighting over subspace 0's
    centroid budget; see opq_householder_chain's axes doc)."""
    from hiveka_spark.queries.extensions import _X129_TOPM

    return [j * _X140_DSUB for j in range(_X129_TOPM)]


def _x140_rotation_ctes(
    dirs: list[str], dim: int, axes: list[int] | None = None
) -> tuple[str, str]:
    """SQL replay of :func:`~hiveka_spark.operators.similarity.
    opq_householder_chain` + its corpus application, at ANY width m
    (round-15 verdict #3 — generalized from the hand-unrolled 2-reflector
    version): for each direction table in ``dirs`` (i, val — the x129m
    learned basis), apply the already-built reflectors, build reflector j
    from the remainder (floor-isqrt with a one-step correction — exact
    for nn < ~2^40 since IEEE sqrt is correctly rounded there; sign away
    from cancellation; truncating //; coordinates < j zeroed), then
    rotate every quantized corpus vector through the whole chain.
    Returns ``(ctes_text, final_cte)`` where the final CTE is the rotated
    twin of the scatter's ``q`` (vec_id, qv).  A zero reflector (uu = 0)
    is an identity both here (CASE guard subtracts 0) and driver-side
    (the chain skips it)."""
    isq = ("CASE WHEN (s0+1)*(s0+1) <= nn THEN s0+1 "
           "WHEN s0*s0 > nn THEN s0-1 ELSE s0 END")
    if axes is None:
        axes = list(range(len(dirs)))
    steps: list[str] = []
    for j, pj in enumerate(dirs):
        cur = pj
        for l in range(j):
            steps.append(
                f"""rc{j}a{l} AS (SELECT CAST(SUM(a.val * b.u) AS BIGINT) AS dt
            FROM {cur} a JOIN ru{l} b USING (i)),
    rc{j}b{l} AS MATERIALIZED (SELECT a.i,
            CAST(a.val - CASE WHEN w.uu = 0 THEN 0
                 ELSE (2 * d.dt * b.u) // w.uu END AS BIGINT) AS val
         FROM {cur} a JOIN ru{l} b USING (i)
         CROSS JOIN rc{j}a{l} d CROSS JOIN ru{l}u w)"""
            )
            cur = f"rc{j}b{l}"
        ax = axes[j] + 1  # 1-based target axis of reflector j
        fixed = [a + 1 for a in axes[:j]]  # 1-based already-fixed axes
        notfix = (
            f"i NOT IN ({', '.join(map(str, fixed))})" if fixed else "TRUE"
        )
        infix = (
            f"i IN ({', '.join(map(str, fixed))})" if fixed else "FALSE"
        )
        steps.append(
            f"""rr{j}n AS (SELECT CAST(SUM(CASE WHEN {notfix} THEN val*val
                                      ELSE 0 END) AS BIGINT) AS nn,
                   CAST(MAX(CASE WHEN i = {ax} THEN val END) AS BIGINT) AS vj
            FROM {cur}),
    rr{j}q AS (SELECT vj, {isq} AS s
            FROM (SELECT nn, vj,
                         CAST(FLOOR(SQRT(CAST(nn AS DOUBLE))) AS BIGINT) AS s0
                  FROM rr{j}n)),
    ru{j} AS MATERIALIZED (SELECT i,
            CAST(CASE WHEN {infix} THEN 0
                 WHEN i = {ax}
                 THEN val + (CASE WHEN r.vj >= 0 THEN 1 ELSE -1 END) * r.s
                 ELSE val END AS BIGINT) AS u
         FROM {cur} CROSS JOIN rr{j}q r),
    ru{j}u AS (SELECT CAST(SUM(u*u) AS BIGINT) AS uu FROM ru{j}),
    ru{j}l AS (SELECT list(u ORDER BY i) AS ul FROM ru{j})"""
        )
    src = "q"
    for j in range(len(dirs)):
        steps.append(
            f"""rd{j} AS MATERIALIZED (SELECT s.vec_id, s.qv,
            CAST(list_sum(list_transform(range(1, {dim + 1}),
                 i -> s.qv[CAST(i AS INT)] * t.ul[CAST(i AS INT)]))
                 AS BIGINT) AS dt
          FROM {src} s CROSS JOIN ru{j}l t),
    rq{j} AS MATERIALIZED (SELECT vec_id,
            list_transform(range(1, {dim + 1}),
                 i -> CAST(qv[CAST(i AS INT)] -
                      CASE WHEN w.uu = 0 THEN 0
                      ELSE (2 * dt * t.ul[CAST(i AS INT)]) // w.uu END
                      AS BIGINT)) AS qv
          FROM rd{j} CROSS JOIN ru{j}l t CROSS JOIN ru{j}u w)"""
        )
        src = f"rq{j}"
    return ",\n    ".join(steps), src


def _x140_arm_ctes(
    p: str, src: str, m: int, dsub: int, n_cent: int, stride: int,
    n_iters: int,
) -> str:
    """One distortion arm (x136's sub/pcents0/train/best/report chain)
    namespaced by ``p`` over a (vec_id, qv) source CTE."""
    pq_d2 = _PQ_D2_SQL.format(a="s.sv", b="c.cv")
    train, final = _pq_train_chain_sql(dsub, stride, n_cent, m, n_iters, p)
    return f"""{p}sub AS MATERIALIZED (
        SELECT vec_id, CAST(s AS BIGINT) AS sub,
               qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)] AS svq,
               list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                              x -> CAST(x AS DOUBLE)) AS sv
        FROM {src} CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    {p}pcents0 AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
                FROM {p}sub
                WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    {",".join(train)},
    {p}asgn AS (SELECT s.vec_id, s.sub, c.code, {pq_d2} AS d2
             FROM {p}sub s JOIN {final} c USING (sub)),
    {p}best AS (SELECT vec_id, sub, d2
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                ORDER BY d2, code) AS r
                   FROM {p}asgn)
             WHERE r = 1),
    {p}rep AS (SELECT sub, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(d2) AS BIGINT) AS total
               FROM {p}best GROUP BY sub)"""


def _x140_basis(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """The top-m learned directions as plain int lists — the OPQ front's
    driver-side input (:func:`_x129m_basis` is driver-local since r16:
    one corpus pass for the scatter, zero per-direction collects)."""
    from hiveka_spark.queries.extensions import _x129m_basis

    return _x129m_basis(spark, sf_dir)


def _x140_oracle(
    m: int = _X140_M,
    dsub: int = _X140_DSUB,
    n_cent: int = _X140_CENT,
    stride: int = _X140_STRIDE,
    n_iters: int = _X140_ITERS,
) -> str:
    from hiveka_spark.queries.extensions import (
        _X119_DIM,
        _x119_scatter_ctes,
        _x129m_chain_ctes,
    )

    dim = _X119_DIM
    chain, dir_tables = _x129m_chain_ctes(dim)
    rot, rot_final = _x140_rotation_ctes(dir_tables, dim, _x140_axes())
    return f"""
    WITH {_x119_scatter_ctes(dim)},
    {chain},
    {rot},
    {_x140_arm_ctes("raw", "q", m, dsub, n_cent, stride, n_iters)},
    {_x140_arm_ctes("rot", rot_final, m, dsub, n_cent, stride, n_iters)}
    SELECT CAST(a.sub AS BIGINT) AS sub,
           CAST(a.n AS BIGINT) AS n_vecs,
           CAST(a.total AS BIGINT) AS raw_total_d2,
           CAST(b.total AS BIGINT) AS rot_total_d2,
           CAST(a.total // a.n AS BIGINT) AS raw_mean_d2_q,
           CAST(b.total // b.n AS BIGINT) AS rot_mean_d2_q
    FROM rawrep a JOIN rotrep b USING (sub)
    """


@register(
    "x140_opq_rotated_pq",
    oracle=_x140_oracle(),
    tags=("similarity", "ann", "pq", "opq", "certification"),
)
def x140_opq_rotated_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-ROTATED PQ distortion table — the consumer of the width-4
    learned basis (round-15 verdict #3, Ge et al. 2014): the top-4
    principal directions (x129's block power iteration at width 4 —
    Walsh seeds + sequential integer Gram-Schmidt, ``_x129m_basis``)
    become a Householder rotation front
    (:func:`~hiveka_spark.operators.similarity.opq_householder_chain`)
    with SUBSPACE-BALANCED target axes — direction j lands on the
    leading coordinate of PQ subspace j, never four directions fighting
    over subspace 0's centroid budget (the measured failure mode of
    sequential targets, pinned in tests/test_opq.py).  PQ codebooks are
    trained in BOTH the raw and the rotated space with the identical
    Lloyd recipe, and the gate reports x136's per-subspace
    reconstruction error side by side — the table an index build reads
    to decide whether the rotation pays for this corpus (on
    near-uniform unit-sphere fixtures the delta is ~nil by
    construction; on clustered corpora the width-4 front's
    recall/distortion win over the 2-reflector front is pinned by the
    planted-cluster tests).

    Scale shape: the basis is x119/x129's one corpus pass + dim-sized
    iterations; the rotation is a per-row map (four broadcast dim-vector
    reflections, pure codegen integer arithmetic — no shuffle); each arm
    is x136's broadcast-join Lloyd + one m-row rollup.  The oracle
    replays EVERYTHING — scatter, three width-4 power iterations with
    sequential Gram-Schmidt, isqrt reflector construction (fixed axes
    zeroed), per-vector rotation through all four reflectors, and both
    training chains (namespaced via _pq_train_chain_sql's prefix) — in
    one WITH chain."""
    from hiveka_spark.operators.similarity import (
        _pq_best,
        opq_householder_chain,
        pq_subvectors_shared,
        train_pq_codebooks,
    )

    e = table(spark, sf_dir, "embeddings")
    chain = opq_householder_chain(_x140_basis(spark, sf_dir), _x140_axes())
    dim = _X140_M * _X140_DSUB

    def arm(rotate, tag: str) -> DataFrame:
        # ONE materialized id-partitioned subvector frame per arm (r16):
        # scan + rotation + subspace split paid once instead of per Lloyd
        # pass + once more for the distortion pass; every (_id, sub)
        # argmin exchange-free
        c_sub = pq_subvectors_shared(
            e, "vec_id", "embedding", m=_X140_M, dim=dim, rotate=rotate
        )
        books = train_pq_codebooks(
            e, m=_X140_M, dim=dim, n_centroids=_X140_CENT,
            centroid_stride=_X140_STRIDE, n_iters=_X140_ITERS,
            rotate=rotate, subvectors=c_sub,
        ).localCheckpoint(eager=True)  # bounded: m * n_centroids rows
        best = _pq_best(c_sub, books, _X140_DSUB).select("sub", "d2")
        return best.groupBy("sub").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"{tag}_n"),
            F.sum("d2").cast("bigint").alias(f"{tag}_total_d2"),
            F.expr("SUM(d2) DIV COUNT(*)").cast("bigint")
            .alias(f"{tag}_mean_d2_q"),
        )

    raw = arm(None, "raw")
    rot = arm(chain, "rot")
    return (
        raw.join(rot, "sub")
        .select(
            F.col("sub").cast("bigint").alias("sub"),
            F.col("raw_n").alias("n_vecs"),
            "raw_total_d2",
            "rot_total_d2",
            "raw_mean_d2_q",
            "rot_mean_d2_q",
        )
    )


# ---------------------------------------------------------------------------
# x143 — true-neighbor chain packing: x107's segments re-ordered by a greedy
# nearest-neighbor chain (the kNN-graph consumer on the packing side)
# ---------------------------------------------------------------------------


def _x143_oracle(
    k: int = _X107_K,
    stride: int = _X107_STRIDE,
    seg: int = _X107_SEG,
    budget: int = _X107_BUDGET,
) -> str:
    return f"""
    WITH RECURSIVE {_x107_seg_ctes(k, stride, seg)},
    xd AS MATERIALIZED (
      SELECT cell, seg, vec_id, len,
             list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd,
             ROW_NUMBER() OVER (PARTITION BY cell, seg ORDER BY crank) AS srnk
      FROM s),
    xchain AS (
      SELECT cell, seg, CAST(1 AS BIGINT) AS step, vec_id AS cur,
             [vec_id] AS visited, CAST(NULL AS BIGINT) AS dot
      FROM xd WHERE srnk = 1
      UNION ALL
      SELECT z.cell, z.seg, z.step + 1 AS step, z.vec_id AS cur,
             list_append(z.visited, z.vec_id) AS visited, z.d AS dot
      FROM (
        SELECT e.cell, e.seg, e.step, e.vec_id, e.visited, e.d,
               ROW_NUMBER() OVER (PARTITION BY e.cell, e.seg
                                  ORDER BY e.d DESC, e.vec_id ASC) AS rn
        FROM (
          SELECT c.cell, c.seg, c.step, c.visited, d.vec_id,
                 CAST(list_dot_product(cq.qvd, d.qvd) AS BIGINT) AS d
          FROM xchain c
          JOIN xd cq ON cq.cell = c.cell AND cq.seg = c.seg
                    AND cq.vec_id = c.cur
          JOIN xd d ON d.cell = c.cell AND d.seg = c.seg
                   AND NOT list_contains(c.visited, d.vec_id)
        ) e
      ) z WHERE z.rn = 1
    ),
    xck AS (
      SELECT ch.cell, ch.seg, ch.step, ch.dot, xd.len,
             CAST((SUM(xd.len) OVER (PARTITION BY ch.cell, ch.seg
                     ORDER BY ch.step
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - xd.len) // {budget} AS BIGINT) AS chunk
      FROM xchain ch
      JOIN xd ON xd.cell = ch.cell AND xd.seg = ch.seg
             AND xd.vec_id = ch.cur),
    xrep AS (
      SELECT cell, seg,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_chunks,
             CAST(SUM(len) AS BIGINT) AS sum_len,
             CAST(COUNT(dot) AS BIGINT) AS n_pairs,
             CAST(COALESCE(SUM(dot), 0) AS BIGINT) AS chain_adj_dot
      FROM xck GROUP BY cell, seg),
    xarr AS (
      SELECT cell, seg, CAST(COALESCE(SUM(ad), 0) AS BIGINT) AS arr_adj_dot
      FROM (SELECT cell, seg,
                   CASE WHEN aqv IS NULL THEN NULL
                        ELSE CAST(list_dot_product(qvd, aqv) AS BIGINT)
                   END AS ad
            FROM (SELECT cell, seg, qvd,
                         LEAD(qvd) OVER (PARTITION BY cell, seg
                                         ORDER BY vec_id) AS aqv
                  FROM xd))
      GROUP BY cell, seg)
    SELECT r.cell, r.seg, r.n_docs, r.n_chunks, r.sum_len, r.n_pairs,
           r.chain_adj_dot, a.arr_adj_dot
    FROM xrep r JOIN xarr a USING (cell, seg)
    """


@register(
    "x143_knn_chain_packing",
    oracle=_x143_oracle(),
    tags=("training-prep", "packing", "knn-graph", "applyinpandas",
          "iterative"),
)
def x143_knn_chain_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-NEIGHBOR chain packing — x107 re-packed from actual pairwise
    similarity (round-14 verdict #3's packing consumer): the IDENTICAL
    (cell, segment) layout, but within each segment the window order is a
    greedy nearest-neighbor CHAIN (start at the centroid-nearest doc,
    repeatedly extend to the unvisited doc with max quantized dot, tie
    min vec_id — Shi et al. 2024's actual traversal, which x107
    approximates with the distance-to-centroid order).  Certificate: the
    same adjacency-dot channels as x107 — ``chain_adj_dot`` vs the
    arrival order's ``arr_adj_dot`` — and the cross-gate test pins that
    the chain order's total adjacency STRICTLY improves on x107's
    centroid order (the 'must improve' clause).

    Scale shape: segments are the bounded packing seam ({_X107_SEG}
    docs), so the O(n^2)-per-segment greedy runs Arrow-batched inside one
    applyInPandas group — nothing corpus-quadratic, one grouping shuffle.
    The oracle replays the whole thing: kmeans cells, the segment cut,
    the greedy recursion (argmax + tie rule as a recursive CTE), the
    chunk cut, and both adjacency sums."""
    from hiveka_spark.operators.sampling import greedy_chain_segments

    r = _x107_ranked(spark, sf_dir)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    w_arr = Window.partitionBy("cell", "seg").orderBy("vec_id")
    arr = (
        r.select(
            "cell", "seg",
            dot(F.col("qv"), F.lead("qv").over(w_arr)).alias("ad"),
        )
        .groupBy("cell", "seg")
        .agg(
            F.coalesce(F.sum("ad"), F.lit(0)).cast("bigint")
            .alias("arr_adj_dot")
        )
    )
    rep = greedy_chain_segments(
        r.select("cell", "seg", "vec_id", "crank", "len", "qv"),
        _X107_BUDGET,
    )
    return rep.join(arr, ["cell", "seg"]).select(
        "cell", "seg", "n_docs", "n_chunks", "sum_len", "n_pairs",
        "chain_adj_dot", "arr_adj_dot",
    )


# ---------------------------------------------------------------------------
# x145 — rotated-PQ RECALL certification: Ge et al.'s other column, the
# recall@k of raw vs OPQ-rotated ADC against exact-L2 ground truth
# ---------------------------------------------------------------------------


def _x145_arm_ctes(
    p: str, src: str, k: int = 5, m: int = 16, dsub: int = 4,
    n_cent: int = 64, stride: int = 7,
) -> str:
    """One ADC top-k arm (x48's chain, name-parameterized) over a
    (vec_id, qv) source CTE — ends at ``{p}res`` (query_id, neighbor_id)."""
    return f"""{p}sub AS MATERIALIZED (
        SELECT vec_id, CAST(s AS BIGINT) AS sub,
               list_transform(qv[CAST(s*{dsub}+1 AS INT):CAST(s*{dsub}+{dsub} AS INT)],
                              x -> CAST(x AS DOUBLE)) AS sv
        FROM {src} CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s)),
    {p}cents AS (SELECT CAST(vec_id // {stride} AS BIGINT) AS code, sub, sv AS cv
              FROM {p}sub WHERE vec_id % {stride} = 0 AND vec_id // {stride} < {n_cent}),
    {p}asgn AS MATERIALIZED (SELECT s.vec_id, s.sub, c.code,
                    CAST(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
                         + list_dot_product(c.cv, c.cv) AS BIGINT) AS d2
             FROM {p}sub s JOIN {p}cents c USING (sub)),
    {p}codes AS (SELECT vec_id AS neighbor_id, sub, code
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d2, code) AS r
                    FROM {p}asgn)
              WHERE r = 1),
    {p}lut AS (SELECT vec_id AS query_id, sub, code, d2 AS d2q
            FROM {p}asgn WHERE vec_id < 10),
    {p}res AS (SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_d2, neighbor_id) AS rn
        FROM (SELECT l.query_id, c.neighbor_id,
                     CAST(SUM(l.d2q) AS BIGINT) AS approx_d2
              FROM {p}codes c JOIN {p}lut l USING (sub, code)
              WHERE l.query_id <> c.neighbor_id GROUP BY 1, 2))
        WHERE rn <= {k})"""


def _x145_oracle(k: int = 5) -> str:
    from hiveka_spark.queries.extensions import (
        _X119_DIM,
        _x119_scatter_ctes,
        _x129m_chain_ctes,
    )

    dim = _X119_DIM
    chain, dir_tables = _x129m_chain_ctes(dim)
    rot, rot_final = _x140_rotation_ctes(dir_tables, dim, _x140_axes())
    d2 = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    return f"""
    WITH {_x119_scatter_ctes(dim)},
    {chain},
    {rot},
    ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS qvd
           FROM q),
    exact AS (SELECT query_id, neighbor_id FROM (
                SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY qr.vec_id
                         ORDER BY {d2.format(a="qr.qvd", b="c.qvd")}, c.vec_id) AS rn
                FROM ev qr JOIN ev c ON qr.vec_id <> c.vec_id
                WHERE qr.vec_id < 10)
              WHERE rn <= {k}),
    {_x145_arm_ctes("r5r", "q", k)},
    {_x145_arm_ctes("r5s", rot_final, k)},
    hits_raw AS (SELECT r.query_id, COUNT(*) AS n
                 FROM r5rres r JOIN exact e USING (query_id, neighbor_id)
                 GROUP BY 1),
    hits_rot AS (SELECT r.query_id, COUNT(*) AS n
                 FROM r5sres r JOIN exact e USING (query_id, neighbor_id)
                 GROUP BY 1)
    SELECT q.query_id,
           CAST({k} AS BIGINT) AS k,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS raw_hits,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS rot_hits
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits_raw a USING (query_id)
    LEFT JOIN hits_rot b USING (query_id)
    """


@register(
    "x145_rotated_pq_recall",
    oracle=_x145_oracle(),
    tags=("similarity", "ann", "pq", "opq", "recall", "certification"),
)
def x145_rotated_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-PQ RECALL@5, certified — Ge et al. 2014's other column
    next to x140's distortion table: per query, how many of raw-ADC's
    and OPQ-rotated-ADC's top-5 fall inside the exact squared-L2 top-5
    in the ORIGINAL space (the x61 discipline — the rotation must earn
    its recall in the metric users query in, not in its own rotated
    coordinates).  Ground truth, both ADC arms (the rotated one coding
    queries AND corpus through the same width-4 subspace-balanced
    Householder chain, stride codebooks drawn from the rotated stream),
    the width-4 x129 basis, and the rotation construction all replay in
    ONE oracle.  On the near-uniform fixture the delta is ~nil by
    construction; the planted-cluster win of the width-4 front over the
    2-reflector front is pinned in tests/test_opq.py.

    Scale shape: x61's — one broadcast brute-force certification pass,
    two x48-shaped ADC plans (the rotation adds one per-row broadcast
    reflection map, no shuffle), id-only intersections."""
    from hiveka_spark.operators.similarity import (
        opq_householder_chain,
        pq_topk,
        with_quantized_norm,
    )

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10)
    k = 5
    chain = opq_householder_chain(_x140_basis(spark, sf_dir), _x140_axes())

    c = with_quantized_norm(e, "embedding").select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cvec")
    )
    qv = with_quantized_norm(qs, "embedding").select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qqvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qqvec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        c.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # bounded: 10 * k rows
    )

    def arm(rotate):
        return pq_topk(
            e, qs, "vec_id", "embedding",
            k=k, m=16, dim=64, n_centroids=64, centroid_stride=7,
            rotate=rotate,
        ).select("query_id", "neighbor_id")

    hits_raw = (
        arm(None).join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("rn_"))
    )
    hits_rot = (
        arm(chain).join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("sn_"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits_raw, "query_id", "left")
        .join(hits_rot, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("bigint").alias("k"),
            F.coalesce("rn_", F.lit(0)).cast("bigint").alias("raw_hits"),
            F.coalesce("sn_", F.lit(0)).cast("bigint").alias("rot_hits"),
        )
    )


# ---------------------------------------------------------------------------
# x148 — MULTIMODAL CURATION CAPSTONE: image+audio corpus -> codec-probed
# decode -> per-modality content dedup -> caption quality/dedup join ->
# manifested export (round-15 verdict #5 — the multimodal operators compose)
# ---------------------------------------------------------------------------

_X148_QUALITY_MIN = 0.5
#: duplicate-injection offsets (the x90 augmentation discipline — the base
#: tables carry no duplicates, so the gate plants them deterministically):
#: +100000 repeats BOTH modality keys (100000 % 400 == 0, so the audio
#: payload length n = id % 400 + 100 repeats too); +100001 repeats the image
#: content but SHIFTS the audio length by one — the two dup copies certify
#: that each modality dedups on ITS OWN content key
_X148_OFF_BOTH = 100000
_X148_OFF_IMG = 100001


def _x148_dig_cte(name: str, src: str) -> str:
    """(doc_id, sha, dig, n) — the shared digest-byte expansion of x22/x44's
    oracles over an augmented (doc_id, text) corpus CTE."""
    return f"""{name} AS MATERIALIZED (
      SELECT doc_id, sha256(text) AS sha, md5(text) AS cmd5,
             CAST(octet_length(encode(text)) AS BIGINT) AS blen,
             CAST(doc_id % 400 + 100 AS BIGINT) AS n,
             list_transform(range(0, 32),
               k -> strpos('0123456789abcdef', substr(sha256(text), CAST(k*2+1 AS INT), 1)) * 16
                  + strpos('0123456789abcdef', substr(sha256(text), CAST(k*2+2 AS INT), 1)) - 17
             ) AS dig
      FROM {src})"""


def _x148_oracle() -> str:
    from hiveka_spark.queries.pipeline_ext import _quality_cte

    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_X148_OFF_BOTH}, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + {_X148_OFF_IMG}, text FROM documents WHERE doc_id % 7 = 3),
    {_quality_cte(src="corpus")},
    {_x148_dig_cte("dg", "corpus")},
    imgk AS (
      SELECT * FROM (
        SELECT doc_id, sha, cmd5, blen,
               CAST(doc_id % 64 + 16 AS BIGINT) * (doc_id % 48 + 16) * 3 AS np,
               dig,
               ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id) AS rn
        FROM dg)
      WHERE rn = 1),
    audk AS (
      SELECT * FROM (
        SELECT doc_id, sha, cmd5, n, dig,
               ROW_NUMBER() OVER (PARTITION BY sha, n ORDER BY doc_id) AS rn
        FROM dg)
      WHERE rn = 1),
    cap AS (
      SELECT c.doc_id, d.cmd5, q.quality_score,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.cmd5 ORDER BY c.doc_id) = 1
                       AND q.quality_score >= {_X148_QUALITY_MIN}
                  THEN 1 ELSE 0 END AS caption_ok
      FROM corpus c JOIN quality q USING (doc_id) JOIN dg d USING (doc_id)),
    rows_ AS (
      SELECT 'image' AS modality, i.doc_id AS media_id, i.blen AS byte_len,
             CAST(((i.np // 32) * list_sum(i.dig)
                   + COALESCE(list_sum(list_slice(i.dig, 1, CAST(i.np % 32 AS INT))), 0))
                  // i.np AS BIGINT) AS feature,
             c.quality_score, CAST(c.caption_ok AS BIGINT) AS caption_ok,
             i.cmd5 AS caption_md5
      FROM imgk i JOIN cap c ON c.doc_id = i.doc_id
      UNION ALL
      SELECT 'audio', a.doc_id, 44 + a.n,
             CAST(((a.n // 32) * list_sum(a.dig)
                   + COALESCE(list_sum(list_slice(a.dig, 1, CAST(a.n % 32 AS INT))), 0))
                  // a.n AS BIGINT),
             c.quality_score, CAST(c.caption_ok AS BIGINT), a.cmd5
      FROM audk a JOIN cap c ON c.doc_id = a.doc_id)
    SELECT modality, media_id, byte_len, feature, quality_score, caption_ok,
           CASE WHEN caption_ok = 1
                THEN ROW_NUMBER() OVER (PARTITION BY modality, caption_ok
                                        ORDER BY media_id)
                ELSE -1 END AS seq,
           caption_md5
    FROM rows_
    """


@register(
    "x148_multimodal_curation",
    oracle=_x148_oracle(),
    tags=("multimodal", "dedup", "quality", "pipeline", "e2e",
          "training-prep", "certification"),
)
def x148_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL CURATION CAPSTONE (round-15 verdict #5) — the
    multimodal operators finally COMPOSE into one pipeline instead of
    being certified in isolation: an image+audio corpus (x12's media
    synthesis + x44's genuine RIFF/WAVE containers, over a
    duplicate-injected caption corpus — the base tables carry no dups,
    so two deterministic augmentation copies plant them) flows through

    1. codec-probed decode (image: the x22 digest-tiled fake behind
       ``available_codecs()`` probing; audio: the REAL stdlib ``wave``
       binding — both Arrow-batched ``mapInPandas``),
    2. per-modality CONTENT dedup, keep-first on each modality's own
       key — full image bytes vs (payload digest, sample count); the
       +{_X148_OFF_BOTH} copy dies in both modalities while the
       +{_X148_OFF_IMG} copy dies only as an image (its audio clip is
       one sample longer — genuinely different content),
    3. the caption-side curation join: x08 quality floor
       ({_X148_QUALITY_MIN}) + x01 keep-first exact caption dedup —
       which is what finally removes the surviving +{_X148_OFF_IMG}
       audio clip from the EXPORT (its caption is a duplicate), the
       cross-modal guarantee content dedup alone cannot give,
    4. the manifested export: per modality, export-sequence numbers over
       the caption-approved survivors (x89's deterministic ordering),
       audit rows retained with seq = -1.

    Every stage — augmentation, both decodes, both dedup keys, quality,
    caption resolution, sequencing — replays in ONE oracle (x90's
    stage-replay discipline; the decode features are digest arithmetic,
    so the hash check covers the codec path end to end).

    Scale shape: two corpus-sized Arrow decode passes (zero shuffle),
    two hash-keyed keep-first windows on compact feature rows (never
    raw bytes after decode), one id-keyed caption join, one per-modality
    sequence window.  At 100 TB the decode batches stream (content
    bytes never collect anywhere) and the dedup keys are 16-32 bytes."""
    from hiveka_spark.operators.multimodal import (
        decode_audio_features,
        decode_image_features,
        synthesize_media,
        synthesize_wav_media,
    )
    from hiveka_spark.operators.text import with_quality

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        d.unionByName(
            d.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + _X148_OFF_BOTH).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + _X148_OFF_IMG).alias("doc_id"), "text"
            )
        )
        .localCheckpoint(eager=True)  # three stages fan out from it
    )

    img = decode_image_features(synthesize_media(corpus, "doc_id", "text"))
    aud = decode_audio_features(synthesize_wav_media(corpus, "doc_id", "text"))

    w_img = Window.partitionBy("content_sha").orderBy("media_id")
    img_kept = (
        img.withColumn("rn", F.row_number().over(w_img))
        .filter(F.col("rn") == 1)
        .select("media_id", "byte_len", F.col("mean_pixel").alias("feature"))
    )
    cmd5 = corpus.select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("caption_md5")
    )
    w_aud = Window.partitionBy("caption_md5", "n_samples").orderBy("media_id")
    aud_kept = (
        aud.join(cmd5, "media_id")
        .withColumn("rn", F.row_number().over(w_aud))
        .filter(F.col("rn") == 1)
        .select("media_id", "byte_len", F.col("mean_abs").alias("feature"))
    )

    w_cap = Window.partitionBy("caption_md5").orderBy("doc_id")
    cap = (
        with_quality(corpus)
        .withColumn("caption_md5", F.md5("text"))
        .withColumn("crn", F.row_number().over(w_cap))
        .select(
            F.col("doc_id").alias("media_id"),
            "quality_score",
            "caption_md5",
            F.when(
                (F.col("crn") == 1)
                & (F.col("quality_score") >= _X148_QUALITY_MIN),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("caption_ok"),
        )
    )

    un = (
        img_kept.withColumn("modality", F.lit("image"))
        .unionByName(aud_kept.withColumn("modality", F.lit("audio")))
        .join(cap, "media_id")
    )
    w_seq = Window.partitionBy("modality", "caption_ok").orderBy("media_id")
    return un.select(
        "modality",
        "media_id",
        F.col("byte_len").cast("bigint").alias("byte_len"),
        F.col("feature").cast("bigint").alias("feature"),
        "quality_score",
        "caption_ok",
        F.when(F.col("caption_ok") == 1, F.row_number().over(w_seq))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("seq"),
        "caption_md5",
    )
