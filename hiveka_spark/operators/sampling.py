"""Deterministic sampling / data-mixing / sequence-packing operators for
training-data pipelines.

No reference analog (the reference is a Kafka scan layer; SURVEY.md §2C
extension surface) — designed Spark-first:

- Sampling decisions are PURE FUNCTIONS of the row id (md5-derived
  portable_hash60 mod 100), never RNG state: a re-run, a retried task, a
  different executor count, or a different engine (the DuckDB oracle) all
  pick exactly the same rows.  That reproducibility is non-negotiable for
  training-data curation at 100 TB — `df.sample()` draws per-partition
  pseudo-random numbers that change under AQE re-planning / task retry.
- Stratified mixing is one codegen'd CASE over a map literal — no shuffle
  at all; the filter pushes to the scan's residual predicate.
- Sequence packing assigns documents to fixed token-budget chunks with a
  cumulative-sum window partitioned by a grouping key (source), so the
  window state is distributed per-key instead of a single global sort —
  the only formulation of packing that survives 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from hiveka_spark.operators.dedup import portable_hash60, portable_hash60_sql
from hiveka_spark.sqlexpr import qident


def sample_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic engine-portable bucket in [0, n_buckets) for a row id."""
    return F.pmod(portable_hash60(id_col), F.lit(n_buckets))


def sample_bucket_sql(expr: str, n_buckets: int = 100) -> str:
    """DuckDB twin of sample_bucket (hash60 is non-negative, so % == pmod)."""
    return f"({portable_hash60_sql(expr)} % {n_buckets})"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_pct: dict[str, int],
    id_col: str,
    default_pct: int = 0,
) -> DataFrame:
    """Keep rows of stratum s with probability rates_pct[s]/100, decided by
    the deterministic hash bucket of the row id.

    This is the data-mixing primitive: rates_pct encodes the target mixture
    weights (e.g. up-/down-weight languages or sources).  The predicate is a
    single codegen'd CASE + md5 — zero shuffles, zero state, reproducible
    row-for-row across runs and engines.
    """
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates_pct.items() for x in kv]
    )
    rate = F.coalesce(rate_map[F.col(strata_col)], F.lit(default_pct))
    return df.filter(sample_bucket(id_col) < rate)


def stratified_sample_sql(
    strata_expr: str, rates_pct: dict[str, int], id_expr: str, default_pct: int = 0
) -> str:
    """DuckDB predicate twin of stratified_sample (for oracle SQL)."""
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in rates_pct.items()
    )
    return (
        f"{sample_bucket_sql(id_expr)} < "
        f"(CASE {strata_expr} {whens} ELSE {default_pct} END)"
    )


def temperature_mix(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    token_col: str = "n_tok",
    budget_pct: int = 40,
    alpha_is_half: bool = True,
) -> DataFrame:
    """Temperature-based (alpha-weighted) source mixing — the multinomial
    alpha-sampling of mC4/XLM-R (Conneau et al. 2020 §3.1): sampling
    weight_s ∝ n_s^alpha with alpha < 1 UPWEIGHTS low-resource sources
    relative to proportional sampling, the standard fix for head-heavy
    corpora.  x34 takes the mixture weights as input; this DERIVES them
    from the corpus at alpha = 0.5 (sqrt — IEEE-correctly-rounded in every
    engine, then floor-quantized to integer MILLI-units so ALL later
    arithmetic is bigint-exact: the weight normalization uses an integer
    DIV, never a partition-order-sensitive double sum).  Milli (1e3), not
    micro (1e6): the share numerator is w_int * 1e6, and w_int =
    floor(sqrt(src_tokens) * scale) must keep that product inside int64
    for ANY bigint src_tokens — at scale 1e3, w_int < 3.04e12 even when
    src_tokens is the full int64 range, so w_int * 1e6 < 3.04e18 < 2^63
    with ~3x headroom (at 1e6 scale a single ~8.5e13-token source —
    well inside a 100 TB corpus — silently wrapped; the same overflow
    class budget_tokens was already decomposed against).

    Per source: w_int = floor(sqrt(src_tokens) * 1e3); share_micro =
    (w_int * 1e6) DIV sum(w_int); budget = (total_budget * share_micro)
    DIV 1e6; rate = min(100, (budget * 100) DIV src_tokens); keep(doc) =
    md5 bucket < rate.  Returns the per-source mixing report
    (source, src_tokens, share_micro, budget_tokens, rate_pct, n_kept,
    kept_tokens).

    Scale shape: one per-source token aggregate (map-side combined), a
    source-count-row weight table with a 1-row grand-total broadcast, the
    rate table broadcast into the corpus-sized filter (zero shuffle on the
    big side), one final per-source aggregate.
    """
    assert alpha_is_half, "alpha=0.5 (sqrt) is the engine-exact contract"
    d = docs.select(F.col(id_col), F.col(source_col).alias("source"), F.col(token_col))
    rates = temperature_rates(docs, id_col, source_col, token_col, budget_pct)
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(sample_bucket(id_col) < F.col("rate_pct"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum(token_col).cast("bigint").alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "src_tokens",
            "share_micro",
            "budget_tokens",
            "rate_pct",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
    )


def temperature_rates(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    token_col: str = "n_tok",
    budget_pct: int = 40,
) -> DataFrame:
    """The RATE TABLE half of :func:`temperature_mix` — (source,
    src_tokens, w_int, share_micro, budget_tokens, rate_pct), broadcast-
    sized (one row per source) — factored out so composition gates (x90)
    can apply the alpha=0.5 keep-rate predicate to their own surviving
    frontier without also computing the report's kept-stats aggregate.
    All arithmetic is the bigint-exact decomposition documented on
    temperature_mix."""
    d = docs.select(F.col(id_col), F.col(source_col).alias("source"), F.col(token_col))
    per_src = d.groupBy("source").agg(F.sum(token_col).cast("bigint").alias("src_tokens"))
    per_src = per_src.withColumn(
        "w_int", F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1000.0).cast("bigint")
    )
    totals = per_src.agg(
        F.sum("w_int").cast("bigint").alias("w_sum"),
        F.sum("src_tokens").cast("bigint").alias("total_tokens"),
    )
    # budget = floor(total_budget * share / 1e6) computed as
    # q*share + (r*share DIV 1e6) with q = total_budget DIV 1e6,
    # r = total_budget % 1e6 — algebraically identical but every
    # intermediate stays < ~2.4e13 instead of total_budget * share
    # (~1e19 at a 100 TB corpus, past int64); GREATEST guards the
    # all-empty-text source (src_tokens = 0 would NULL in Spark and
    # ERROR in the DuckDB twin)
    rates = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("share_micro", F.expr("w_int * 1000000 DIV w_sum").cast("bigint"))
        .withColumn("_tb", F.expr(f"total_tokens * {budget_pct} DIV 100"))
        .withColumn(
            "budget_tokens",
            F.expr(
                "(_tb DIV 1000000) * share_micro"
                " + ((_tb % 1000000) * share_micro DIV 1000000)"
            ).cast("bigint"),
        )
        .withColumn(
            "rate_pct",
            F.least(
                F.lit(100),
                F.expr("budget_tokens * 100 DIV GREATEST(src_tokens, 1)"),
            ).cast("bigint"),
        )
        .select("source", "src_tokens", "w_int", "share_micro", "budget_tokens", "rate_pct")
    )
    return rates


def pack_chunks(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    token_col: Column | str,
    budget: int,
) -> DataFrame:
    """Assign each row to a token-budget chunk: within each partition_col
    group, rows are laid out in order_col order and chunk k covers the
    contiguous run whose preceding cumulative token count is in
    [k*budget, (k+1)*budget).

    Contiguous cumulative-sum packing (not bin-packing): deterministic,
    one window over (partition_col, order_col) — distributed per group key,
    no global sort, no driver loop.  A chunk may overflow by at most one
    document, the same bounded-overflow contract a streaming packer gives.
    Output adds ``chunk`` (bigint) to the input rows.
    """
    tok = token_col if isinstance(token_col, Column) else F.col(token_col)
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(tok).over(w) - tok
    return df.withColumn("chunk", F.floor(cum_before / F.lit(budget)))


_MID_LOCAL_MASK = (1 << 33) - 1  # monotonically_increasing_id: low 33 bits


def _ranked_once(t: DataFrame, id_col: str, h_col: str, out_col: str) -> DataFrame:
    """One distributed total-order rank over (h_col, id_col), carrying every
    other column of ``t`` through as payload.

    Recipe: range-partition on the order key + sort within partitions
    (Spark's scalable total sort), then read the LOCAL index straight out
    of ``monotonically_increasing_id`` — its documented layout is
    (partition id << 33) + consecutive within-partition record number, so
    local rank and partition id are two bit-ops on one JVM-generated long:
    no per-partition window (which would re-exchange on the partition id)
    and no join on the row id.  Per-partition counts are a
    numPartitions-row collect (bounded-driver-collect posture) broadcast
    back as global offsets.  The final rank depends only on the TOTAL
    order, not on where the sampled range boundaries fall, so the output
    is deterministic even though range-partitioner sampling is not (and
    the correctness pin vs the naive global window in tests/test_plans.py
    guards the _mid layout assumption).
    """
    return _ranked_by_keys(t, [h_col, id_col], out_col, drop=[h_col])


def global_order_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "pos"
) -> DataFrame:
    """Distributed 1-based global rank of every row under an arbitrary
    ascending composite order (``order_cols`` must be a total order —
    include a unique id last) — the generalization of the epoch-shuffle
    rank used for curriculum ordering (x74: quality band, then hash, then
    id).  Same recipe and scale posture as :func:`_ranked_once`; the order
    columns are kept in the output (callers usually report them).
    Descending components: negate the column before calling."""
    return _ranked_by_keys(df, order_cols, out_col, drop=[])


def _ranked_by_keys(
    t: DataFrame, keys: list[str], out_col: str, drop: list[str]
) -> DataFrame:
    from hiveka_spark.operators.dedup import _persist_tracked

    s = (
        t.repartitionByRange(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    # persisted because both the counts job and the final plan read the
    # sorted frame (and _mid must be assigned exactly once); registered
    # with any active dedup_cache_scope so long-lived sessions release it
    s = _persist_tracked(s)
    pid = F.shiftright(F.col("_mid"), 33).cast("int")
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in s.groupBy(pid.alias("_pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets, acc = [], 0
    for p, cnt in counts:
        offsets.append((p, acc))
        acc += cnt
    off_df = t.sparkSession.createDataFrame(offsets, "_pid int, _off bigint")
    local = (F.col("_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK)) + 1).cast("bigint")
    keep = [c for c in t.columns if c not in drop]
    return (
        s.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .select(*keep, (local + F.col("_off")).alias(out_col))
    )


def global_hash_rank_multi(
    df: DataFrame,
    id_col: str,
    salts: dict[str, str],
) -> DataFrame:
    """Deterministic GLOBAL ranks of every row under SEVERAL independent
    orders (``salts``: out_col -> hash salt), sharing ONE scan of ``df`` —
    WITHOUT the single-reducer global window (``Window.orderBy`` with no
    partitionBy moves every row into ONE partition: the classic scale
    killer) and WITHOUT a per-order join on the row id.

    Two independent total orders genuinely need two sorts, but nothing
    else need be duplicated: all hash columns are computed in one pass,
    and each successive rank pass range-partitions the PREVIOUS pass's
    output carrying the already-computed positions as payload — so k
    epochs cost exactly k range exchanges, k bounded counts-collects, and
    zero row-id joins (the r6 x65 shape was 2x the full rank machinery
    plus a doc_id join: 3 shuffles, double persist).
    """
    out_cols = list(salts)
    t = df.select(
        F.col(id_col),
        *[
            portable_hash60(
                F.concat(F.lit(salt), F.col(id_col).cast("string"))
            ).alias(f"_h_{oc}")
            for oc, salt in salts.items()
        ],
    )
    for oc in out_cols:
        t = _ranked_once(t, id_col, f"_h_{oc}", oc)
    return t.select(id_col, *out_cols)


def global_hash_rank(
    df: DataFrame,
    id_col: str,
    salt: str,
    out_col: str = "pos",
) -> DataFrame:
    """Deterministic GLOBAL rank of every row by (portable_hash60(salt, id),
    id) — 1-based, dense, engine-reproducible.  Single-order convenience
    wrapper over :func:`global_hash_rank_multi`; see it for the
    distributed recipe and scale posture.
    """
    return global_hash_rank_multi(df, id_col, {out_col: salt})


_DIGEST_MOD = 2147483647  # 2^31 - 1


def rolling_digest(sort_col: str, val_col: str):
    """Aggregate Column: 31-ary rolling hash mod 2^31-1 over ``val_col``
    bigints in ``sort_col`` order within the group — the content-AND-order
    manifest digest (x75); one definition shared by the segmented
    production path (:func:`segmented_order_digest`, which composes these
    per bounded segment) and the sensitivity tests.  Builds the group's
    value array in ONE aggregation buffer, so call it directly only on
    groups known to fit a task (a single segment, a test fixture) — a
    100 TB shard goes through the segmented form."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(sort_col, val_col))),
            lambda s: s[val_col],
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(_DIGEST_MOD).cast("bigint"),
    )


def segmented_order_digest(
    df: DataFrame,
    group_col: str | tuple[str, ...] | list[str],
    pos_col: str,
    val_col: str,
    out_col: str = "order_digest",
    seg_size: int = 4096,
) -> DataFrame:
    """Per-group 31-ary order digest — IDENTICAL value to
    ``groupBy(group).agg(rolling_digest(pos, val))`` — computed without
    ever materializing a whole group in one aggregation buffer: the scale
    path for x75 manifests whose shards exceed task memory.

    The rolling hash is linear mod p, so over a segment split it composes
    as an affine map: digest(A || B) = digest(A) * 31^len(B) + digest(B)
    (mod p).  ``pos_col`` must be a dense 1-based rank within the group
    (x71/x75's shard_pos), so segment = (pos-1) DIV seg_size is a
    contiguous slice of the order:

    1. one hash aggregate keyed by (group, segment) computes each
       segment's digest + length — every buffer is bounded by
       ``seg_size`` rows by construction, regardless of group size;
    2. 31^len mod p comes from a broadcast (seg_size+1)-row power table
       (built driver-side with pow(31, len, p) — no modpow builtin
       needed, and no Python in the executor path);
    3. per group, segments fold in segment order with the affine step
       (acc * pw + d) mod p — the composition array holds one 3-field
       struct per SEGMENT (a seg_size-fold reduction; lift seg_size or
       re-apply the same trick for another level if a single shard ever
       exceeds seg_size^2 rows).

    Every intermediate stays in int64: segment folds are acc*31 + h60
    < 2^36 + 2^60; composition is acc*pw + d < p^2 + p < 2^62.
    Returns (group_col, out_col).  Equality with the one-buffer
    rolling_digest is pinned in tests/test_sampling.py with seg_size
    smaller than the groups, so the composition path itself is what the
    pin exercises.
    """
    spark = df.sparkSession
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    seg = F.expr(f"CAST(({qident(pos_col)} - 1) DIV {seg_size} AS BIGINT)")
    segs = (
        df.groupBy(*[F.col(g) for g in group_cols], seg.alias("_seg"))
        .agg(
            rolling_digest(pos_col, val_col).alias("_d"),
            F.count(F.lit(1)).cast("int").alias("_len"),
        )
    )
    pow_tbl = spark.createDataFrame(
        [(n, pow(31, n, _DIGEST_MOD)) for n in range(seg_size + 1)],
        "_len int, _pw bigint",
    )
    segs = segs.join(F.broadcast(pow_tbl), "_len")
    return segs.groupBy(*group_cols).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_seg", "_d", "_pw"))),
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * x["_pw"] + x["_d"])
            % F.lit(_DIGEST_MOD).cast("bigint"),
        ).alias(out_col)
    )


def composed_order_digest(
    df: DataFrame,
    group_col: str | tuple[str, ...] | list[str],
    pos_col: str,
    dig_col: str,
    len_col: str,
    out_col: str = "ids_digest",
    seg_size: int = 4096,
) -> DataFrame:
    """Per-group digest of the CONCATENATION of variable-length sequences:
    each input row carries a sequence's own 31-ary digest (``dig_col``)
    and its length (``len_col``); the group's digest — identical to
    folding every element of every sequence in ``pos_col`` order — is
    composed via the affine rule digest(A||B) = digest(A) * 31^len(B) +
    digest(B) (mod p).  This is :func:`segmented_order_digest`
    generalized from fixed-size segments to per-row lengths: the token
    manifest path (x81), where a shard's token-stream digest composes
    from per-doc (ids_digest, n_tokens) pairs without ever exploding the
    token stream or holding a shard's tokens in one buffer.

    Bounded everywhere: 31^len mod p comes from a broadcast power table
    over the DISTINCT lengths present (one bounded collect — distinct
    per-doc token counts, capped by the max document length, zipfian in
    practice; pow(31, n, p) driver-side costs O(log n) each); rows fold
    in bounded ``seg_size`` segments by (pos-1) DIV seg_size, each
    segment carrying its digest AND its combined power (powers multiply:
    31^(a+b) = 31^a * 31^b mod p), and segments fold with the same
    affine step.  Every intermediate < p^2 + p < 2^62.  Zero-length rows
    (empty docs) carry digest 0 / power 1 — exact no-ops.  Pinned equal
    to a flat per-element fold in tests/test_sampling.py with seg_size
    smaller than the groups."""
    spark = df.sparkSession
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    p = F.lit(_DIGEST_MOD).cast("bigint")
    lens = sorted(
        int(r[0]) for r in df.select(len_col).distinct().collect() if r[0] is not None
    )
    pow_tbl = spark.createDataFrame(
        [(n, pow(31, n, _DIGEST_MOD)) for n in lens] or [(0, 1)],
        f"{len_col} bigint, _pw bigint",
    )
    t = df.join(F.broadcast(pow_tbl), len_col)
    seg = F.expr(f"CAST(({qident(pos_col)} - 1) DIV {seg_size} AS BIGINT)")
    segs = t.groupBy(*[F.col(g) for g in group_cols], seg.alias("_seg")).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(pos_col, dig_col, "_pw"))),
            F.struct(
                F.lit(0).cast("bigint").alias("d"),
                F.lit(1).cast("bigint").alias("pw"),
            ),
            lambda acc, x: F.struct(
                ((acc["d"] * x["_pw"] + x[dig_col]) % p).alias("d"),
                ((acc["pw"] * x["_pw"]) % p).alias("pw"),
            ),
        ).alias("_sd")
    )
    return segs.groupBy(*group_cols).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_seg", "_sd"))),
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * x["_sd"]["pw"] + x["_sd"]["d"]) % p,
        ).alias(out_col)
    )


def _group_cols(shard_col) -> list[str]:
    """Packing group key: a single shard column or a composite (the
    multi-epoch path groups by (epoch, shard))."""
    return [shard_col] if isinstance(shard_col, str) else list(shard_col)


def _example_slice_rows(
    toks: DataFrame,
    C: int,
    shard_col,
    pos_col: str,
    ids_col: str,
) -> DataFrame:
    """The shared slice stage of example packing: per-doc offsets from one
    cumulative-sum window per group, then ONE row per (doc, overlapped
    example) — (*group, _ex, _s global slice start, _len, _sl the actual
    id slice, _bstart within-example doc-start position or NULL).  Row
    count is O(n_docs + n_tokens/C); the token stream is never exploded
    to per-token rows.  ``shard_col`` may be a single column or a
    composite key (multi-epoch: (epoch, shard)).  Pinned invariant: a
    SINGLE document's ids array holds < 2^31 tokens (the within-doc slice
    start/length feed F.slice as int — array indices are 32-bit in Spark,
    so this is the engine's own per-array bound, not an extra
    restriction; GLOBAL offsets/counts stay bigint).  Consumed by
    :func:`pack_token_examples` (digests only — folds _sl away before any
    shuffle) and :func:`pack_token_example_rows` (ships _sl: the physical
    export)."""
    group = _group_cols(shard_col)
    w = (
        Window.partitionBy(*group)
        .orderBy(pos_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL ids must behave exactly like [] (size() of NULL is -1 under
    # non-ANSI Spark — unguarded it would shift every LATER doc's offset
    # in the shard back by one and mis-slice all subsequent examples)
    n_tok = F.coalesce(F.size(ids_col), F.lit(0)).cast("bigint")
    t = (
        toks.select(
            *[F.col(g) for g in group],
            F.col(ids_col).alias("_ids"),
            n_tok.alias("_n"),
            (F.sum(n_tok).over(w) - n_tok).alias("_off"),
        )
        .filter(F.col("_n") > 0)
    )
    k0 = F.floor(F.col("_off") / C).cast("bigint")
    k1 = F.floor((F.col("_off") + F.col("_n") - 1) / C).cast("bigint")
    slices = F.transform(
        F.sequence(k0, k1),
        lambda k: F.struct(
            k.alias("ex_idx"),
            F.greatest(k * C, F.col("_off")).alias("s"),
            (
                F.least((k + 1) * C, F.col("_off") + F.col("_n"))
                - F.greatest(k * C, F.col("_off"))
            ).alias("len"),
        ),
    )
    return t.select(*group, "_off", "_ids", F.explode(slices).alias("sl")).select(
        *group,
        F.col("sl.ex_idx").alias("_ex"),
        F.col("sl.s").alias("_s"),
        F.col("sl.len").cast("bigint").alias("_len"),
        F.slice(
            "_ids",
            (F.col("sl.s") - F.col("_off") + 1).cast("int"),
            F.col("sl.len").cast("int"),
        ).alias("_sl"),
        # within-example position of a DOC START (this slice is the doc's
        # first iff its global start equals the doc offset); NULL otherwise
        F.when(
            F.col("sl.s") == F.col("_off"),
            (F.col("sl.s") - F.col("sl.ex_idx") * C).cast("bigint"),
        ).alias("_bstart"),
    )


def pack_token_example_rows(
    toks: DataFrame,
    context_len: int,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
    ids_col: str = "ids",
) -> DataFrame:
    """The PHYSICAL counterpart of :func:`pack_token_examples`: one row per
    packed example carrying the ACTUAL data a trainer reads — (shard,
    ex_idx, ids: the example's context_len token ids in order, starts:
    sorted within-example doc-start positions for attention masking,
    n_docs) — where pack_token_examples ships only the certifying
    digests.  Same slice stage (:func:`_example_slice_rows`); here the
    exchange necessarily carries the token slices because the ids ARE the
    output, and the per-example reassembly buffer is bounded by
    context_len ids by construction (every slice is >= 1 token).  The
    trailing example per shard may be short."""
    group = _group_cols(shard_col)
    e = _example_slice_rows(toks, context_len, shard_col, pos_col, ids_col)
    return (
        e.groupBy(*group, "_ex")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_s", "_sl"))),
                    lambda x: x["_sl"],
                )
            ).alias("ids"),
            # array_compact makes the NULL handling explicit: collect_list
            # drops NULLs today, but boundary metadata must not silently
            # corrupt if that engine behavior ever changes (r11 verdict #3)
            F.array_sort(F.array_compact(F.collect_list("_bstart"))).alias("starts"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .select(
            *group,
            F.col("_ex").alias("ex_idx"),
            "ids",
            "starts",
            "n_docs",
        )
    )


def pack_token_examples(
    toks: DataFrame,
    context_len: int,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
    ids_col: str = "ids",
    out_digest: str = "ids_digest",
) -> DataFrame:
    """Pack per-doc token-ID arrays into FIXED-LENGTH training examples —
    the final trainer-facing step (GPT-style packing): within each shard,
    the docs' token streams concatenate in ``pos_col`` order and slice
    into consecutive ``context_len``-token examples; documents span
    example boundaries (no padding, no discarded tokens; the one trailing
    example per shard may be short).  Returns one MANIFEST row per
    example: (shard, ex_idx, n_tokens, n_docs, <out_digest>) where the
    digest is the 31-ary rolling hash of the example's exact token ids in
    order — what certifies the examples a training job materializes.

    Scale shape — the token stream is NEVER exploded to rows:

    1. one cumulative-sum window per shard (ordered by ``pos_col``) gives
       each doc's global token offset — slim rows, one exchange;
    2. each doc emits one row per example it OVERLAPS (``transform`` over
       sequence(first_ex, last_ex), then explode): row count is
       O(n_docs + n_tokens/context_len), not O(n_tokens); the slice's
       digest is a JVM array fold over ``slice(ids, ...)``;
    3. per (shard, ex_idx), slices compose with the affine rule
       digest(A||B) = digest(A)*31^len(B) + digest(B) (mod p) in slice
       order — every slice is >= 1 token so an example has at most
       ``context_len`` slices, a bounded aggregation buffer by
       construction; 31^len comes from a broadcast (context_len+1)-row
       power table.

    Each row also carries ``starts_digest`` — the digest of the sorted
    0-based WITHIN-EXAMPLE positions where a document STARTS (each
    position folded as pos+1 so an empty set, digest 0, is distinct from
    a boundary at position 0): the attention-mask / loss-reset metadata a
    trainer needs to stop attention from crossing document boundaries
    inside a packed example.  An example wholly inside one long document
    has starts_digest 0.

    Docs with empty ``ids`` are dropped AFTER the offset window (they
    shift nothing) so the example math never sees a zero-length span.
    Pinned equal to a flat per-token fold in tests/test_sampling.py."""
    p = F.lit(_DIGEST_MOD).cast("bigint")
    C = context_len
    group = _group_cols(shard_col)
    e = _example_slice_rows(toks, C, shard_col, pos_col, ids_col).select(
        *group,
        "_ex",
        "_s",
        "_len",
        # fold the slice to its digest BEFORE the shuffle: the exchange
        # carries 16-byte digests, never token bytes
        F.aggregate(
            "_sl", F.lit(0).cast("bigint"), lambda acc, x: (acc * 31 + x) % p
        ).alias("_d"),
        "_bstart",
    )
    pow_tbl = toks.sparkSession.createDataFrame(
        [(n, pow(31, n, _DIGEST_MOD)) for n in range(C + 1)], "_len bigint, _pw bigint"
    )
    return (
        e.join(F.broadcast(pow_tbl), "_len")
        .groupBy(*group, "_ex")
        .agg(
            F.sum("_len").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_s", "_d", "_pw"))),
                F.lit(0).cast("bigint"),
                lambda acc, x: (acc * x["_pw"] + x["_d"]) % p,
            ).alias(out_digest),
            F.aggregate(
                # explicit NULL removal — same rationale as the physical
                # packer's starts column (collect_list drops NULLs today)
                F.array_sort(F.array_compact(F.collect_list("_bstart"))),
                F.lit(0).cast("bigint"),
                lambda acc, x: (acc * 31 + x + 1) % p,
            ).alias("starts_digest"),
        )
        .select(
            *group,
            F.col("_ex").alias("ex_idx"),
            "n_tokens",
            "n_docs",
            out_digest,
            "starts_digest",
        )
    )


def read_back_example_manifest(back: DataFrame) -> DataFrame:
    """Per-example manifest derived ENTIRELY from physically written and
    READ-BACK packed example rows (the x88 certification discipline;
    shared by x88 and the x90 capstone so the digest contract — 31-ary
    ids fold; starts folded as pos+1, matching the oracle's (r0-1)%C+1 —
    exists in exactly one place): (shard, ex_idx, n_tokens, n_docs,
    ids_digest, starts_digest).  Map-only JVM array folds."""
    p = F.lit(_DIGEST_MOD).cast("bigint")
    return back.select(
        F.col("shard").cast("bigint").alias("shard"),
        "ex_idx",
        F.size("ids").cast("bigint").alias("n_tokens"),
        "n_docs",
        F.aggregate(
            "ids", F.lit(0).cast("bigint"), lambda acc, x: (acc * 31 + x) % p
        ).alias("ids_digest"),
        F.aggregate(
            "starts", F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 31 + x + 1) % p,
        ).alias("starts_digest"),
    )


def epoch_shards(
    df: DataFrame,
    id_col: str,
    salt: str,
    n_shards: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The PRODUCTION epoch-shuffle variant global_hash_rank's docstring
    promises: shard = pmod(hash, n) and a deterministic within-shard
    position — ZERO global coordination.  No total order is ever computed:
    the only exchange is the hash partition on the shard key, and the
    rank window partitions BY shard, so every shard ranks in parallel and
    no counts-collect/offset broadcast exists at all.  This is what a
    training job actually writes (shard files consumed in within-shard
    order); the global-rank form (x65) exists to certify a single
    replayable total order when one is required.

    Returns (<id_col>, shard, shard_pos, *keep_cols): shard in
    [0, n_shards), shard_pos 1-based within the shard under the (hash, id)
    order — byte-replayable from (salt, ids) alone, like everything in
    this module.  ``keep_cols`` ride the one shard-key exchange as payload
    (the export path carries text this way — no second corpus scan, no
    id-keyed re-join).
    """
    h = portable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    t = df.select(F.col(id_col), *keep_cols, h.alias("_h")).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return t.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
        *keep_cols,
    )


def multi_epoch_shards(
    df: DataFrame,
    id_col: str,
    salts: tuple[str, ...] | list[str],
    n_shards: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """E training epochs of :func:`epoch_shards` from ONE corpus scan — the
    multi-epoch export path (x78).

    A training run that consumes the corpus E times wants E *independent*
    epoch orders, but reading the corpus E times to build them reads
    100 TB E times.  Here the per-row epoch fan-out is a generator
    (``posexplode`` over the salt literals) applied directly to the single
    scan: each source row emits one lightweight (epoch, salt) copy, the
    shard hash is salted per epoch, and the ONE exchange that follows is
    keyed on (epoch, shard) — so all E epochs' shards rank in parallel
    with zero global coordination, and the corpus parquet is scanned
    exactly once (plan-asserted in tests/test_plans.py).

    ``keep_cols`` payload (the export path carries text) is duplicated E×
    *through the exchange* — unavoidable if E physical epoch copies are
    being written, and still strictly cheaper than E scans because the
    source read, decompression, and any upstream curation happen once.
    For epoch 0 the output is row-for-row identical to
    ``epoch_shards(df, id_col, salts[0], n_shards)`` (pinned in
    tests/test_sampling.py), so a single-epoch consumer can't tell which
    path produced its shards.

    Returns (<id_col>, epoch, shard, shard_pos, *keep_cols) with epoch in
    [0, len(salts)), shard in [0, n_shards), shard_pos 1-based within
    (epoch, shard) under the (hash, id) order — byte-replayable from
    (salts, ids) alone."""
    t = df.select(
        F.col(id_col),
        *keep_cols,
        F.posexplode(F.array(*[F.lit(s) for s in salts])).alias("epoch", "_salt"),
    )
    h = portable_hash60(F.concat(F.col("_salt"), F.col(id_col).cast("string")))
    t = t.select(
        id_col,
        F.col("epoch").cast("bigint").alias("epoch"),
        *keep_cols,
        h.alias("_h"),
    ).withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("bigint"))
    w = Window.partitionBy("epoch", "shard").orderBy("_h", id_col)
    return t.select(
        id_col,
        "epoch",
        "shard",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
        *keep_cols,
    )


def greedy_chain_segments(
    seg_docs: DataFrame, budget: int, max_seg: int = 4096
) -> DataFrame:
    """Greedy nearest-neighbor CHAIN packing report per (cell, seg) group —
    the within-segment order of Shi et al. 2024's in-context pretraining
    done on TRUE pairwise similarity instead of x107's distance-to-centroid
    surrogate (round-14 verdict #3: consume the kNN structure).  Input
    rows: (cell, seg, vec_id, crank, len, qv) with ``qv`` the quantized
    bigint embedding; per group the chain starts at the min-crank doc
    (the segment's centroid-nearest — the same doc x107's order starts
    with) and repeatedly extends to the unvisited doc with the MAXIMUM
    quantized dot to the current one (tie: min vec_id), then x25's
    cumulative-token chunking runs over the chain order.

    Output one row per (cell, seg): n_docs, n_chunks, sum_len, n_pairs,
    chain_adj_dot (the adjacency certificate — SUM of the chain-step
    dots, exact int64: |dot| <= dim * 1e8).

    Scale shape: ONE shuffle groups each segment's <= ``max_seg`` docs
    (the x107 segment seam bounds the group — this is the per-buffer
    locality the paper's sharded implementation accepts), then the
    Arrow-batched applyInPandas chain is O(n^2) int64 dot products on a
    BOUNDED group (64 docs x dim 64 at the gate's settings); nothing is
    corpus-quadratic.  The greedy argmax and tie rule replay exactly in
    the x143 oracle's recursive CTE."""
    import numpy as np
    import pandas as pd

    schema = (
        "cell bigint, seg bigint, n_docs bigint, n_chunks bigint, "
        "sum_len bigint, n_pairs bigint, chain_adj_dot bigint"
    )

    def run(key, pdf):
        cell, seg = int(key[0]), int(key[1])
        n = len(pdf)
        if n > max_seg:
            raise ValueError(
                f"greedy_chain_segments: segment ({cell},{seg}) has {n} "
                f"docs > max_seg={max_seg} — shrink the segment seam"
            )
        pdf = pdf.sort_values("crank").reset_index(drop=True)
        q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
        ids = pdf["vec_id"].to_numpy()
        lens = pdf["len"].to_numpy()
        remaining = list(range(1, n))
        order = [0]
        cur = 0
        chain_dot = 0
        while remaining:
            rem = np.asarray(remaining)
            dots = q[rem] @ q[cur]
            m = dots.max()
            tied = rem[dots == m]
            nxt = int(tied[np.argmin(ids[tied])])
            chain_dot += int(m)
            order.append(nxt)
            remaining.remove(nxt)
            cur = nxt
        cum = 0
        chunks = set()
        for i in order:
            chunks.add(cum // budget)
            cum += int(lens[i])
        return pd.DataFrame(
            [
                {
                    "cell": cell,
                    "seg": seg,
                    "n_docs": n,
                    "n_chunks": len(chunks),
                    "sum_len": int(lens.sum()),
                    "n_pairs": n - 1,
                    "chain_adj_dot": chain_dot,
                }
            ]
        )

    return seg_docs.groupBy("cell", "seg").applyInPandas(run, schema)
