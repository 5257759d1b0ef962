"""Distributed BPE (byte-pair-encoding) vocabulary training.

The tokenizer-training step of a training-data pipeline (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units"),
expressed Spark-first.  SURVEY.md §2C's text-analysis surface counts
tokens with a BPE-ish regex; this trains the merge table itself.

Scale shape — the classic BPE trick is what makes 100 TB feasible:

1. ONE corpus-sized pass reduces the corpus to a (word, freq) table —
   a map-side-combinable aggregate.  Everything after runs on the word
   table, whose size is vocabulary-bounded (zipfian), not corpus-bounded;
   at 100 TB you additionally cap it to the top-K words (``max_words``),
   which changes counts negligibly and bounds every later stage.
2. Per merge: pair counts are one (sym, next_sym)-keyed aggregate over
   the symbol table weighted by word freq; the argmax is a ONE-ROW
   driver collect (the bounded-collect posture, like centroid handoff);
   the merge application is a per-word window pass (words are short, the
   partition key is the word — embarrassingly parallel).

Determinism (oracle-replayable, the repo discipline): the best pair is
argmax over (count DESC, left ASC, right ASC); merge application is the
standard greedy leftmost-first rule, implemented WITHOUT a sequential
fold: for left != right, adjacent matches can never overlap, so the
match test is per-position; for left == right (an ``aa`` run), greedy
merging takes the even offsets within each maximal run — a
gaps-and-islands window, identical in Spark and SQL.  This is what lets
the DuckDB oracle replay every merge bit-for-bit (gate x72).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from hiveka_spark.operators.text import tokens
from hiveka_spark.sqlexpr import qident

# ---------------------------------------------------------------------------
# Byte-exact (normalize=False) pre-tokenizer — the SentencePiece marker
# convention.  The NORMALIZED mode (tokens()/unit_expr: lowercase + collapse
# whitespace runs) is the compact certification surface; a production LLM
# pipeline trains on case-preserved bytes, so the raw mode makes whitespace
# TOKEN CONTENT: spaces become U+2581 '▁' inside the BPE symbol stream, and
# units are a PARTITION of the RAW text (every character lands in exactly one
# unit), so concatenating decoded units restores the input byte-for-byte —
# case, runs of spaces and all (gate x91).
#
# Reserved-marker handling (round-12 verdict #1): the partition regex is cut
# over the RAW text with space and '▁' as DISTINCT classes, so a literal
# U+2581 in input stays distinguishable from a space-derived marker — literal
# marker runs become their own pure-'▁' units (no other unit can contain the
# marker), and the encode paths route them through the BYTE FALLBACK (the ids
# carry the marker's own UTF-8 bytes, which decode reassembles VERBATIM while
# vocabulary tokens map '▁' back to ' ').  decode(encode(t)) == t therefore
# holds on EVERY input; without byte_fallback there is no lossless channel for
# a literal marker, so the encode paths raise loudly instead of corrupting.
# ---------------------------------------------------------------------------

_SP_MARKER = "▁"  # U+2581
#: partition of the RAW text: (space-run +) non-space-non-marker run, a pure
#: trailing space run, or a pure literal-marker run.  For marker-free text
#: this cuts exactly where the old marked-text pattern ('▁*[^▁]+|▁+') did.
#: Every alternative that matches at a position is also the longest there, so
#: leftmost-first (Java/Python) and leftmost-longest engines agree; valid in
#: Java regex, Python re, and RE2/DuckDB — the oracles replay it.
_SP_UNIT_PATTERN = f" *[^ {_SP_MARKER}]+| +|{_SP_MARKER}+"
_SP_RE = re.compile(_SP_UNIT_PATTERN)


def sp_units(col: Column | str) -> Column:
    """JVM-side byte-exact pre-tokenizer units of a text column (see module
    comment): the raw-text partition regex — spaces are preserved in the
    unit strings ('▁' in a unit always means a LITERAL input marker; the
    space -> '▁' mapping happens inside the consumers, per unit).  NULL
    text -> NULL (explodes to no rows, like
    :func:`~hiveka_spark.operators.text.tokens`); empty text -> empty
    array."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.regexp_extract_all(c, F.lit(_SP_UNIT_PATTERN), 0)


def _sp_pretokenize(text: str) -> list[str]:
    """Python twin of :func:`sp_units` for the Arrow-batched encode paths —
    same partition regex over the raw text, pinned equal in tests."""
    return _SP_RE.findall(text)


def sp_mark(col: Column | str) -> Column:
    """space -> '▁' inside a unit string (JVM side) — the symbol-stream form
    BPE trains on and applies to.  Identity on literal-marker units."""
    return F.translate(col if isinstance(col, Column) else F.col(col), " ", _SP_MARKER)


def sp_unit_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) over byte-exact units (:func:`sp_units`, space-marked via
    :func:`sp_mark`) — the raw-mode counterpart of :func:`unit_freq`, same
    one-pass map-side-combinable shape.  A literal input marker counts like
    the space it is indistinguishable from in the SYMBOL stream — training
    statistics only; the encode paths never look it up (byte fallback)."""
    return (
        docs.select(F.explode(sp_units(text_col)).alias("u"))
        .select(sp_mark("u").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): the corpus reduced to its word-frequency table — the one
    corpus-sized pass of BPE training."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def unit_pairs(toks: Column) -> Column:
    """SentencePiece-style space-spanning units over an ALREADY-PROJECTED
    token-array column: the token stream cut into non-overlapping word
    PAIRS joined by '_' (the odd trailing word stands alone) — the
    space-as-token-content convention that lets merges learn cross-word
    pieces.  ``toks`` MUST be a bound column (project :func:`tokens` into
    its own select first): the lambda body references it once per element,
    so handing it the raw split EXPRESSION re-tokenizes the text per pair
    — O(words^2) per row (measured 6x slower on the sf0.1 corpus)."""
    pairs = F.transform(
        F.sequence(
            F.lit(0).cast("bigint"),
            F.ceil(F.size(toks) / F.lit(2.0)).cast("bigint") - 1,
        ),
        lambda i: F.when(
            (i * 2 + 2) <= F.size(toks),
            F.concat(
                F.element_at(toks, (i * 2 + 1).cast("int")),
                F.lit("_"),
                F.element_at(toks, (i * 2 + 2).cast("int")),
            ),
        ).otherwise(F.element_at(toks, (i * 2 + 1).cast("int"))),
    )
    # empty/NULL text: sequence(0, -1) counts DOWN and would index an empty
    # array — a NULL array explodes to no rows, same as tokens() of NULL
    return F.when(F.size(toks) > 0, pairs).otherwise(
        F.lit(None).cast("array<string>")
    )


def unit_expr(text_col: str = "text"):
    """:func:`unit_pairs` over :func:`tokens` of a TEXT column, as one
    expression.  Prefer projecting the token array and calling
    :func:`unit_pairs` in DataFrame code (see its docstring for the
    per-element re-tokenization cost of the inline form); this form exists
    for contexts that need a single self-contained Column."""
    return unit_pairs(tokens(text_col))


def unit_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) over space-spanning units (:func:`unit_expr`).  Same
    one-pass map-side-combinable shape as :func:`word_freq`; exists because
    a pre-tokenizer unit richer than the bare word multiplies the trainable
    merge capacity (the gate corpus has a 31-word vocabulary: word units
    exhaust after ~107 merges, pair units sustain 256+ — gate x76).
    The token array is projected ONCE before the pair lambda touches it
    (r16, see :func:`unit_pairs`: the inline form re-splits per element).
    No empty-array pre-filter: unit_pairs itself yields NULL for empty
    token arrays (guarding the descending sequence(0, -1)) and explode of
    NULL emits no rows — an explicit filter would be pushed below the
    projection and re-evaluate the split a second time per row."""
    pre = docs.select(tokens(text_col).alias("__toks"))
    return (
        pre.select(F.explode(unit_pairs(F.col("__toks"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus; returns the ordered
    merge table (merge_rank, lhs, rhs, merged, pair_count) — the artifact
    a tokenizer ships.  ``max_words``: optional top-K word-frequency cap
    ((freq, w) DESC/ASC total order, deterministic) — the 100 TB knob.

    This is the fully-DISTRIBUTED loop: one Spark job per merge (pair
    aggregate + 1-row argmax collect + window merge pass), with the
    iterative lineage truncated every ``checkpoint_every`` merges (the
    per-merge plan adds a bounded stack of window ops, so a small batch
    keeps plans shallow while quartering the checkpoint round-trips).  At
    real tokenizer vocab sizes (~32k merges) even batched per-merge jobs
    are a driver round-trip bottleneck — ship :func:`bpe_train_capped`
    instead, which runs the SAME algorithm driver-locally on the
    max_words-capped word table (bounded by construction) after the one
    corpus-sized pass; the two are property-pinned equal in
    tests/test_operators.py, and this loop remains the distributed
    certification twin."""
    wf = word_freq(docs, text_col)
    if max_words is not None:
        # distributed exact top-K: orderBy + limit plans as
        # TakeOrderedAndProject (per-partition top-K then a K-row merge) —
        # never a single-partition sort of the uncapped vocabulary, which
        # is exactly the case max_words exists for
        # tie-break on UTF-8 bytes (= code-point order) so the cut line is
        # oracle/driver-portable for astral units under any collation
        wf = wf.orderBy(
            F.desc("freq"), F.encode(F.col("w"), "UTF-8")
        ).limit(max_words)
    syms = wf.select(
        "w", "freq", F.posexplode(F.split("w", "")).alias("pos", "s")
    ).localCheckpoint(eager=True)

    wspec = Window.partitionBy("w").orderBy("pos")
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        withnext = syms.withColumn("nxt", F.lead("s").over(wspec))
        best = (
            withnext.filter(F.col("nxt").isNotNull())
            .groupBy("s", "nxt")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), "s", "nxt")
            .limit(1)
            .collect()
        )
        if not best:
            break  # every word is a single symbol already
        a, b, c = best[0]["s"], best[0]["nxt"], int(best[0]["c"])
        merges.append((rank, a, b, a + b, c))

        t = withnext
        if a == b:
            # greedy over an 'aa' run = merge at even offsets within each
            # maximal run (gaps-and-islands: grp is constant per run)
            t = t.withColumn("isa", (F.col("s") == a).cast("int"))
            rn = F.row_number().over(Window.partitionBy("w", "isa").orderBy("pos"))
            t = t.withColumn("grp", F.col("pos") - rn)
            off = (
                F.row_number().over(
                    Window.partitionBy("w", "isa", "grp").orderBy("pos")
                )
                - 1
            )
            is_left = (F.col("isa") == 1) & (F.col("nxt") == a) & (off % 2 == 0)
        else:
            # distinct pair: adjacent matches cannot overlap, test per row
            is_left = (F.col("s") == a) & (F.col("nxt") == b)
        t = t.withColumn("is_left", is_left)
        t = t.withColumn(
            "consumed", F.coalesce(F.lag("is_left").over(wspec), F.lit(False))
        )
        syms = t.filter(~F.col("consumed")).select(
            "w",
            "freq",
            F.row_number().over(wspec).alias("pos"),
            F.when(F.col("is_left"), F.lit(a + b)).otherwise(F.col("s")).alias("s"),
        )
        if rank % checkpoint_every == 0:
            # truncate the iterative lineage in batches: plans stay
            # bounded (checkpoint_every window stacks deep) without a
            # checkpoint round-trip on every merge
            syms = syms.localCheckpoint(eager=True)

    spark = docs.sparkSession
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, lhs string, rhs string, merged string, pair_count bigint",
    )


def _train_python(
    wf: list[tuple[str, int]],
    n_merges: int,
    base_merges: list[tuple[str, str]] | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local BPE merge loop with INCREMENTAL pair counts — the
    classic fast trainer (pair->words occurrence index + lazy max-heap),
    O(affected-word length) per merge instead of a full recount, which is
    what makes real vocab sizes (~32k merges) tractable in one process.
    Semantics are bit-identical to the distributed loop: argmax over
    (count DESC, lhs ASC, rhs ASC), greedy leftmost application (the
    left-to-right scan IS the even-offset-within-run rule for aa pairs).

    ``base_merges`` (vocabulary EXTENSION, gate x98): training CONTINUES
    from a frozen base table — each word's symbol state starts at the
    base tokenizer's apply output (:func:`_merge_unit`, rank order)
    instead of characters, and the returned ranks are 1..n_merges
    RELATIVE to the base (callers offset by len(base_merges)).  On the
    same word table this is exactly equivalent to training
    len(base)+n_merges at once (property-pinned in tests): the
    incremental pair counts ARE the loop state."""
    import heapq
    from collections import defaultdict

    freq = dict(wf)
    if base_merges:
        base_rank = {(a, b): i for i, (a, b) in enumerate(base_merges)}
        vocab: dict[str, list[str]] = {
            w: _merge_unit(list(w), base_rank) for w, _ in wf
        }
    else:
        vocab = {w: list(w) for w, _ in wf}
    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    occ: dict[tuple[str, str], set[str]] = defaultdict(set)
    for w, syms in vocab.items():
        f = freq[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += f
            occ[p].add(w)
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, a, b = heapq.heappop(heap)
            cur = pair_counts.get((a, b), 0)
            if cur == -negc and cur > 0:
                best = (a, b, cur)
                break
            if cur > 0:  # stale entry: re-queue at the true count
                heapq.heappush(heap, (-cur, a, b))
        if best is None:
            break  # every word is a single symbol already
        a, b, c = best
        merges.append((rank, a, b, a + b, c))

        touched: set[tuple[str, str]] = set()
        for w in list(occ.get((a, b), ())):
            f = freq[w]
            old = vocab[w]
            new: list[str] = []
            i = 0
            while i < len(old):
                if i + 1 < len(old) and old[i] == a and old[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(old[i])
                    i += 1
            vocab[w] = new
            for syms, sign in ((old, -f), (new, f)):
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    pair_counts[p] += sign
                    touched.add(p)
                    if sign > 0:
                        occ[p].add(w)
            for i in range(len(old) - 1):
                p = (old[i], old[i + 1])
                if p != (a, b) and pair_counts.get(p, 0) <= 0:
                    occ.pop(p, None)
        for p in touched:
            cnt = pair_counts.get(p, 0)
            if cnt > 0:
                heapq.heappush(heap, (-cnt, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
        pair_counts.pop((a, b), None)
        occ.pop((a, b), None)
    return merges


def bpe_train_capped(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
    max_words: int = 400,
    units: bool = True,
    normalize: bool = True,
    base_merges: list[tuple[str, str]] | None = None,
    wf: DataFrame | None = None,
) -> DataFrame:
    """The PRODUCTION BPE trainer — real-vocab-capable: ONE distributed
    corpus-sized pass reduces the corpus to its unit-frequency table
    (:func:`unit_freq` space-spanning pairs when ``units``, else bare
    words), the deterministic top-``max_words`` cap bounds it
    (TakeOrderedAndProject — per-partition top-K, K-row merge, never a
    single-partition sort), and the merge loop then runs DRIVER-LOCALLY on
    the collected capped table via :func:`_train_python`'s incremental
    pair counts — bounded memory by construction (max_words rows), zero
    per-merge Spark jobs, so 32k merges cost milliseconds-per-merge
    instead of a cluster round-trip each (the distributed loop's
    driver-bottleneck failure mode at real vocab sizes; it remains the
    certification twin, property-pinned equal in tests).  Gate x76 runs
    this at 256 merges with every merge replayed by a DuckDB recursive-CTE
    oracle.

    ``normalize=False`` (the byte-exact mode, gate x91): the word table is
    built over :func:`sp_units` — case preserved, whitespace as '▁' token
    content — instead of the lowercased/collapsed ``tokens()`` stream;
    ``units`` is ignored (the marker units already span their leading
    spaces).  The merge loop itself is symbol-agnostic either way; like
    the encode paths, combining units=True with normalize=False raises —
    a silent mode mismatch at train time would only surface at encode
    time (or never, against the wrong-mode merge table).

    ``base_merges``: CONTINUE training from a frozen base table
    (:func:`bpe_train_continue` is the documented entry point) — the
    loop seeds from the base apply state and returned ranks are offset
    past the base.

    ``wf``: a PRECOMPUTED unit-frequency frame ((w, freq) in the mode the
    caller trains in) — the one-corpus-pass seam: callers that also need
    the alphabet (the vocabulary preamble) materialize the reduction once
    and derive both from it, instead of the trainer and the alphabet each
    scanning the corpus.  The cap/collect/loop below is unchanged, so the
    merge table is bit-identical to the self-reduced path."""
    merges = bpe_train_capped_rows(
        docs, text_col, n_merges=n_merges, max_words=max_words, units=units,
        normalize=normalize, base_merges=base_merges, wf=wf,
    )
    off = len(base_merges or [])
    return docs.sparkSession.createDataFrame(
        [(r + off, a, b, m, c) for (r, a, b, m, c) in merges],
        "merge_rank bigint, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_train_capped_rows(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
    max_words: int = 400,
    units: bool = True,
    normalize: bool = True,
    base_merges: list[tuple[str, str]] | None = None,
    wf: DataFrame | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """:func:`bpe_train_capped`'s merge list as plain driver rows
    ((rank, lhs, rhs, merged, pair_count), ranks NOT offset by
    ``base_merges``) — the seam for driver-local consumers (the gates'
    ``_trained_merge_vocab`` preamble), which previously paid a
    createDataFrame -> collect round trip per gate just to unwrap the
    list the trainer had already computed in Python (r16, guide §5)."""
    if not normalize:
        if units:
            raise ValueError(
                "units=True is the normalized-mode pair joiner; byte-exact "
                "(normalize=False) training uses sp_units — pass units=False"
            )
        if wf is None:
            wf = sp_unit_freq(docs, text_col)
    elif wf is None:
        wf = unit_freq(docs, text_col) if units else word_freq(docs, text_col)
    capped = wf.orderBy(
        F.desc("freq"), F.encode(F.col("w"), "UTF-8")
    ).limit(max_words)
    rows = [(r["w"], int(r["freq"])) for r in capped.collect()]
    return _train_python(rows, n_merges, base_merges=base_merges)


def bpe_train_continue(
    docs: DataFrame,
    base_merges: list[tuple[str, str]],
    text_col: str = "text",
    n_more: int = 64,
    max_words: int = 400,
    units: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """VOCABULARY EXTENSION — continued BPE training (gate x98): the
    production alternative to x95's frozen-unk posture when a new corpus
    version drifts (a domain drop full of code, a new language).  The
    base merge table stays FROZEN and new merges append after it, so
    every existing token id is stable — a checkpointed model extends its
    embedding matrix instead of retraining, and previously tokenized
    data stays valid.

    Same scale shape as :func:`bpe_train_capped` over the NEW version
    only: one corpus pass to its capped unit-frequency table, then the
    driver-local incremental loop — seeded from the base tokenizer's
    APPLY output per unit (``_train_python(base_merges=...)``), which is
    both the correct continuation state and exactly what the DuckDB
    oracle replays (base training recursion -> rank-joined apply over
    the new version's units -> seeded training recursion).  Returned
    ``merge_rank`` continues after the base (len(base)+1 ...).

    Thin wrapper over :func:`bpe_train_capped` (its ``base_merges``
    seam) so the reduction/cap/collect logic exists once — a round-13
    review point: a fork here would silently split the train and
    continue paths."""
    return bpe_train_capped(
        docs, text_col, n_merges=n_more, max_words=max_words,
        units=units, normalize=normalize, base_merges=base_merges,
    )


def bpe_apply(
    docs: DataFrame,
    merge_table: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    units: bool = False,
) -> DataFrame:
    """CERTIFICATION-TWIN tokenizer: per doc, pre-tokenizer units
    (whitespace words, or :func:`unit_expr` pairs when ``units``) ->
    characters -> apply each merge in rank order as a stacked window pass
    (the exact greedy rule training used).  Returns (<id_col>,
    n_bpe_tokens) for EVERY input document: ids whose text is NULL or
    tokenizes to zero words (posexplode of an empty array emits no rows)
    come back with 0 via a left join against the id set, the same
    row-parity discipline with_sentiment follows by coalescing NULL text.

    This is NOT the production path: the plan stacks 2-4 window operators
    PER MERGE over the corpus-sized (doc, unit, pos) frame, so a real
    ~32k-merge table means ~100k chained window ops — unplannable.  Ship
    :func:`bpe_apply_fast` (broadcast merge table + one Arrow-batched
    mapInPandas, flat plan at any merge count); the two are property-
    pinned equal at small merge counts in tests/test_operators.py, which
    is this loop's remaining job."""
    wspec = Window.partitionBy(id_col, "wi").orderBy("pos")
    if units:
        # project the token array before the pair lambda references it
        # (r16, see unit_pairs: the inline form re-splits per element)
        src = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
        pretok = unit_pairs(F.col("__toks"))
    else:
        src = docs
        pretok = tokens(text_col)
    t = src.select(
        F.col(id_col), F.posexplode(pretok).alias("wi", "w")
    ).select(
        id_col, "wi", F.posexplode(F.split("w", "")).alias("pos", "s")
    )
    for a, b in merge_table:
        t = t.withColumn("nxt", F.lead("s").over(wspec))
        if a == b:
            t = t.withColumn("isa", (F.col("s") == a).cast("int"))
            rn = F.row_number().over(
                Window.partitionBy(id_col, "wi", "isa").orderBy("pos")
            )
            t = t.withColumn("grp", F.col("pos") - rn)
            off = (
                F.row_number().over(
                    Window.partitionBy(id_col, "wi", "isa", "grp").orderBy("pos")
                )
                - 1
            )
            is_left = (F.col("isa") == 1) & (F.col("nxt") == a) & (off % 2 == 0)
        else:
            is_left = (F.col("s") == a) & (F.col("nxt") == b)
        t = t.withColumn("is_left", is_left)
        t = t.withColumn(
            "consumed", F.coalesce(F.lag("is_left").over(wspec), F.lit(False))
        )
        t = (
            t.filter(~F.col("consumed"))
            .select(
                id_col,
                "wi",
                F.row_number().over(wspec).alias("pos"),
                F.when(F.col("is_left"), F.lit(a + b)).otherwise(F.col("s")).alias("s"),
            )
        )
    counts = t.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bpe_tokens")
    )
    return docs.select(id_col).join(counts, id_col, "left").select(
        id_col, F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias("n_bpe_tokens")
    )


def _merge_unit(syms: list[str], rank: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE application to one pre-tokenizer unit, replaying the
    RANK-ORDER semantics the certified surfaces use (bpe_apply's stacked
    windows, _train_python's training-time application, the x79/x80 DuckDB
    apply recursion): for each rank in increasing order, one full greedy
    leftmost pass.  The fast replay tracks the last applied rank and only
    merges the minimum-rank pair present with rank > last — equivalent
    because (a) between two applied ranks, the skipped ranks' pairs are
    absent so their passes are no-ops, and (b) one pass per rank is
    complete: merging (a,b)->ab only creates pairs involving the NEW
    symbol ab, never a fresh (a,b) adjacency.  The ``rank > last`` guard
    is load-bearing, not an optimization: a LATER merge can create a
    string an EARLIER merge's pair references (two merges can produce the
    same string from different splits — e.g. table
    [(b,c),(a,b),(ab,c),(x,abc),(a,bc)] on 'xabc': rank-4 (a,bc) makes
    'abc' AFTER rank-3 (x,abc)'s turn has passed), and an unguarded
    min-rank loop would merge it retroactively, silently diverging from
    every certified twin (regression-pinned in tests/test_operators.py).
    Returns the final symbol list; the token count and the id sequence
    both derive from it so the two ship paths cannot drift."""
    last = -1
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and r > last and (best_rank is None or r < best_rank):
                best_rank, a, b = r, syms[i], syms[i + 1]
        if best_rank is None:
            break
        last = best_rank
        merged, out, i = a + b, [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _tokenize_unit(syms: list[str], rank: dict[tuple[str, str], int]) -> int:
    """Final token count of one unit under :func:`_merge_unit`."""
    return len(_merge_unit(syms, rank))


def bpe_apply_fast(
    docs: DataFrame,
    merge_table: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    units: bool = False,
) -> DataFrame:
    """The PRODUCTION tokenizer — real-merge-table-capable, mirroring what
    bpe_train_capped did for the training side: the merge table is bounded
    (~32k rows = the vocabulary; pair->rank dict broadcast to every
    executor ONCE), and tokenization is ONE Arrow-batched ``mapInPandas``
    over (id, text) — a flat two-node plan at ANY merge count, vs the
    window twin's 2-4 stacked window operators PER MERGE (gate x79;
    SCALE.md has the cost-vs-merge-count curve).  Embarrassingly parallel:
    each doc tokenizes independently, zero shuffle, and a per-partition
    memo on distinct units makes the zipfian common case a dict hit.

    Returns (<id_col>, n_bpe_tokens) for EVERY input row — NULL/empty text
    counts 0 — property-pinned equal to :func:`bpe_apply` and to the
    training loop's own application rule (tests/test_operators.py)."""
    import pandas as pd

    rank = {
        (a, b): i for i, (a, b) in enumerate(merge_table)
    }
    bc = docs.sparkSession.sparkContext.broadcast(rank)
    use_units = units

    def run(batches):
        rk = bc.value
        memo: dict[str, int] = {}

        def unit_tokens(u: str) -> int:
            n = memo.get(u)
            if n is None:
                n = memo[u] = _tokenize_unit(list(u), rk)
            return n

        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or not isinstance(text, str):
                    out.append((did, 0))
                    continue
                ws = [w for w in text.split(" ") if w]
                if use_units:
                    us = [
                        ws[2 * i] + "_" + ws[2 * i + 1]
                        if 2 * i + 1 < len(ws)
                        else ws[2 * i]
                        for i in range((len(ws) + 1) // 2)
                    ]
                else:
                    us = ws
                out.append((did, sum(unit_tokens(u) for u in us)))
            yield pd.DataFrame(out, columns=[id_col, "n_bpe_tokens"])

    # lowercase JVM-side so the pre-tokenizer can't diverge from the window
    # twin's tokens() on locale-sensitive code points ('İ' etc.); the id
    # field keeps the input column's own type rather than assuming bigint
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(
        F.col(id_col), F.lower(F.col(text_col)).alias(text_col)
    ).mapInPandas(run, f"{qident(id_col)} {id_type}, n_bpe_tokens bigint")


_DIGEST_MOD = 2147483647  # 2^31 - 1, shared with sampling.rolling_digest

_BYTE_BASE = 256  # byte-fallback mode: ids 0..255 are reserved raw UTF-8 bytes


def _check_fallback_vocab(vocab: dict[str, int], byte_fallback: bool) -> None:
    """The ``byte_fallback`` flag and the vocabulary's id layout must agree
    (round-12 advice — both directions): ``byte_fallback=True`` against a
    legacy vocabulary would silently reinterpret legitimate TOKEN ids
    0..255 as raw UTF-8 bytes, and ``byte_fallback=False`` against a
    fallback-built vocabulary (every id >= 256 by construction) would hand
    OOV symbols the WRONG unk id (len(vocab) instead of 256+len(vocab))
    and render any byte id as U+FFFD at decode.  Cheap invariant, checked
    once per call at plan-build time, never per row."""
    if not vocab:
        return
    lo = min(vocab.values())
    if byte_fallback and lo < _BYTE_BASE:
        raise ValueError(
            "byte_fallback=True requires a byte-fallback vocabulary "
            "(bpe_vocab(..., byte_fallback=True)): ids 0..255 are reserved "
            f"for raw bytes, but this vocab assigns id {lo}"
        )
    if not byte_fallback and lo >= _BYTE_BASE:
        raise ValueError(
            "byte_fallback=False against a byte-fallback vocabulary (its "
            f"lowest id is {lo} >= {_BYTE_BASE}, i.e. it was built with "
            "bpe_vocab(..., byte_fallback=True)): the unk id and the 0..255 "
            "byte range would both be misread — pass byte_fallback=True"
        )


def _make_unit_ids(rk, vc, bf: bool, raw: bool, unk: int):
    """Per-task memoized unit -> token-id encoder shared by
    :func:`bpe_encode` and :func:`bpe_encode_ids` (ONE definition — the
    x91 losslessness contract depends on the digest path and the ids path
    encoding identically, so the logic must not fork).  OOV symbols are
    single characters by construction (every merge's product is in the
    vocabulary); with ``bf`` they fall back to UTF-8 bytes — in raw mode
    an OOV '▁' SYMBOL stands for the space the per-unit marking produced
    (literal markers never reach here; :func:`_raw_unit_ids` routes
    them), so it falls back to the byte of the space it stands for and
    decode restores it."""
    memo: dict[str, tuple[int, ...]] = {}

    def unit_ids(u: str) -> tuple[int, ...]:
        ids = memo.get(u)
        if ids is None:
            out: list[int] = []
            for s in _merge_unit(list(u), rk):
                i = vc.get(s)
                if i is not None:
                    out.append(i)
                elif bf:
                    out.extend(
                        (" " if raw and s == _SP_MARKER else s).encode("utf-8")
                    )
                else:
                    out.append(unk)
            ids = memo[u] = tuple(out)
        return ids

    return unit_ids


def _raw_unit_ids(u: str, unit_ids, bf: bool):
    """Token ids for ONE raw pre-tokenizer unit (byte-exact mode): a pure
    literal-marker run — the only unit shape that can contain '▁', by the
    partition pattern — goes through the BYTE FALLBACK verbatim (its own
    UTF-8 bytes, which decode reassembles without the marker -> space
    mapping), so a literal U+2581 round-trips byte-for-byte instead of
    silently becoming a space (round-12 verdict #1); every other unit is
    space-marked and BPE-encoded through the memoized ``unit_ids``.
    Without byte fallback there is no lossless channel for the literal
    marker, so encode refuses loudly rather than corrupting."""
    if u and u[0] == _SP_MARKER:
        if not bf:
            raise ValueError(
                "byte-exact mode: input contains the reserved marker U+2581 "
                "'▁' and byte_fallback=False leaves no lossless channel for "
                "it — pass byte_fallback=True (literal markers then "
                "round-trip through byte ids) or strip it upstream"
            )
        return u.encode("utf-8")  # 3 byte ids per literal marker
    return unit_ids(u.replace(" ", _SP_MARKER))


def bpe_vocab(
    merge_table: list[tuple[str, str]],
    alphabet: list[str],
    byte_fallback: bool = False,
) -> dict[str, int]:
    """Deterministic token-string -> id vocabulary: the sorted base
    alphabet takes ids 0..B-1, then each merge's merged string (in rank
    order) takes the next id — skipping strings already assigned, because
    two merges can produce the SAME string from different splits (e.g.
    ('ab','c') and ('a','bc') both make 'abc') and a vocabulary is keyed
    by the string (the HF-tokenizer convention: first creation wins).
    The unknown id is ``len(vocab)`` (one past the last assigned).

    ``byte_fallback`` (the GPT-2/SentencePiece serving posture — round-10
    verdict #2): ids 0..255 are RESERVED for raw UTF-8 bytes and every
    token string shifts up by 256, so the vocabulary never collides with
    the byte range and no placeholder key strings exist (byte ids are
    implicit, keyed by value < 256, not by a ``<0xAB>`` string that a
    pathological corpus token could collide with).  Encoding a character
    the alphabet never saw emits its UTF-8 bytes as ids 0..255 instead of
    a lossy shared unk — round-trip then holds on ANY input, not just the
    training corpus (gate x83)."""
    base = _BYTE_BASE if byte_fallback else 0
    vocab = {ch: base + i for i, ch in enumerate(sorted(alphabet))}
    for a, b in merge_table:
        m = a + b
        if m not in vocab:
            vocab[m] = base + len(vocab)
    return vocab


def bpe_encode(
    docs: DataFrame,
    merge_table: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    units: bool = False,
    byte_fallback: bool = False,
    normalize: bool = True,
) -> DataFrame:
    """The tokenizer's SHIP artifact: per doc the full token-ID sequence,
    certified as (<id_col>, n_tokens, ids_digest) where ``ids_digest`` is
    the 31-ary rolling hash mod 2^31-1 over the ids IN ORDER — the same
    content-AND-order digest x75's export manifests use, so any dropped /
    duplicated / reordered / substituted token changes it.  (A variant
    emitting the raw ``array<bigint>`` is the same mapInPandas with the
    accumulator swapped for a list; the digest form is what a
    certification gate can hash and what a manifest stores.)

    Same scale shape as :func:`bpe_apply_fast`: merge table + vocabulary
    broadcast once (both vocabulary-bounded), ONE Arrow-batched
    mapInPandas, flat plan at any merge count, per-partition distinct-unit
    memo (each unit's id list is cached, the per-doc fold is O(tokens)).
    Symbols outside the vocabulary map to the unknown id ``len(vocab)``.
    NULL/empty text -> (0, 0) row parity.  Gate x80 replays train ->
    vocab -> tokenize -> digest end-to-end in DuckDB."""
    import pandas as pd

    _check_fallback_vocab(vocab, byte_fallback)
    if not normalize and units:
        raise ValueError(
            "units=True is the normalized-mode pair joiner; byte-exact "
            "(normalize=False) pre-tokenizes with sp_units instead"
        )
    rank = {(a, b): i for i, (a, b) in enumerate(merge_table)}
    bc = docs.sparkSession.sparkContext.broadcast((rank, dict(vocab)))
    use_units = units
    raw = not normalize
    bf = byte_fallback

    def run(batches):
        rk, vc = bc.value
        unk = len(vc) + (_BYTE_BASE if bf else 0)
        unit_ids = _make_unit_ids(rk, vc, bf, raw, unk)

        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or not isinstance(text, str):
                    out.append((did, 0, 0))
                    continue
                if raw:
                    us = _sp_pretokenize(text)
                else:
                    ws = [w for w in text.split(" ") if w]
                    if use_units:
                        us = [
                            ws[2 * i] + "_" + ws[2 * i + 1]
                            if 2 * i + 1 < len(ws)
                            else ws[2 * i]
                            for i in range((len(ws) + 1) // 2)
                        ]
                    else:
                        us = ws
                n, dig = 0, 0
                for u in us:
                    for tid in _raw_unit_ids(u, unit_ids, bf) if raw else unit_ids(u):
                        n += 1
                        dig = (dig * 31 + tid) % _DIGEST_MOD
                out.append((did, n, dig))
            yield pd.DataFrame(
                out, columns=[id_col, "n_tokens", "ids_digest"]
            )

    # same JVM-side lowercase + derived id type as bpe_apply_fast;
    # byte-exact mode ships the column untouched (case/whitespace preserved)
    id_type = docs.schema[id_col].dataType.simpleString()
    text_expr = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return docs.select(
        F.col(id_col), text_expr.alias(text_col)
    ).mapInPandas(run, f"{qident(id_col)} {id_type}, n_tokens bigint, ids_digest bigint")


def bpe_encode_ids(
    docs: DataFrame,
    merge_table: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    units: bool = False,
    keep_cols: tuple[str, ...] = (),
    byte_fallback: bool = False,
    normalize: bool = True,
) -> DataFrame:
    """The RAW token-ID artifact (`array<bigint>` per doc) — what a
    training job actually reads, where :func:`bpe_encode` ships the
    digest that certifies it.  Same flat scale shape (merge table +
    vocabulary broadcast once, ONE Arrow-batched mapInPandas, zero
    shuffle, distinct-unit memo); NULL/empty text -> empty array (NOT
    null), keeping row parity and making the digest composition a no-op
    for such docs.  ``keep_cols`` pass through the Arrow batches
    untouched — the export path carries shard/shard_pos this way, so
    tokenized shards need no id-keyed corpus re-join (the x75
    discipline).  ``byte_fallback`` (vocab from ``bpe_vocab(...,
    byte_fallback=True)``): an out-of-vocabulary SYMBOL — necessarily a
    single character, since every merge's product is in the vocabulary by
    construction — encodes as its UTF-8 bytes at ids 0..255 instead of
    the shared unk, so encode is lossless on text the training corpus
    never saw (gate x83).  In byte-exact mode a literal input U+2581
    additionally routes through the fallback verbatim
    (:func:`_raw_unit_ids`) — decode(encode(t)) == t on EVERY input, and
    without the fallback a marker-bearing doc raises instead of silently
    corrupting (round-12 verdict #1; gate x91 certifies on marker-bearing
    augmented text).  Invariants vs :func:`bpe_encode` (pinned in
    tests/test_operators.py): size(ids) == n_tokens and the 31-ary fold
    of ids == ids_digest, doc by doc."""
    import pandas as pd

    _check_fallback_vocab(vocab, byte_fallback)
    if not normalize and units:
        raise ValueError(
            "units=True is the normalized-mode pair joiner; byte-exact "
            "(normalize=False) pre-tokenizes with sp_units instead"
        )
    rank = {(a, b): i for i, (a, b) in enumerate(merge_table)}
    bc = docs.sparkSession.sparkContext.broadcast((rank, dict(vocab)))
    use_units = units
    raw = not normalize
    bf = byte_fallback

    def run(batches):
        rk, vc = bc.value
        unk = len(vc) + (_BYTE_BASE if bf else 0)
        unit_ids = _make_unit_ids(rk, vc, bf, raw, unk)

        for pdf in batches:
            seqs: list[list[int]] = []
            for text in pdf[text_col]:
                if text is None or not isinstance(text, str):
                    seqs.append([])
                    continue
                if raw:
                    us = _sp_pretokenize(text)
                else:
                    ws = [w for w in text.split(" ") if w]
                    if use_units:
                        us = [
                            ws[2 * i] + "_" + ws[2 * i + 1]
                            if 2 * i + 1 < len(ws)
                            else ws[2 * i]
                            for i in range((len(ws) + 1) // 2)
                        ]
                    else:
                        us = ws
                seq: list[int] = []
                for u in us:
                    seq.extend(_raw_unit_ids(u, unit_ids, bf) if raw else unit_ids(u))
                seqs.append(seq)
            out = pdf[[id_col, *keep_cols]].copy()
            out["ids"] = seqs
            yield out

    id_type = docs.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f", {qident(c)} {docs.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    text_expr = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        text_expr.alias(text_col),
    ).mapInPandas(
        run, f"{qident(id_col)} {id_type}{keep_schema}, ids array<bigint>"
    )


def bpe_decode_ids(
    df: DataFrame,
    vocab: dict[str, int],
    ids_col: str = "ids",
    id_col: str = "doc_id",
    out_col: str = "text_rt",
    keep_cols: tuple[str, ...] = (),
    byte_fallback: bool = False,
    normalize: bool = True,
) -> DataFrame:
    """Detokenize: the exact inverse of :func:`bpe_encode_ids` for ONE
    pre-tokenizer unit per row — ids map back to their token strings
    through the broadcast INVERSE vocabulary and concatenate, and because
    every BPE merge preserves concatenation (merged = lhs || rhs, by
    induction down to characters), the join restores the unit string
    byte-for-byte.  The caller owns unit boundaries: a doc's FLAT id
    stream does not mark where one unit ends and the next begins (the
    ``_`` marker spans spaces only WITHIN a unit), so lossless decode
    operates on per-unit rows — gate x82 explodes docs to (doc, upos,
    unit), encodes each unit, decodes it back, and reassembles the
    document, certifying the whole train -> vocab -> encode -> decode
    chain against nothing but the normalized source text.

    Scale shape: inverse vocabulary broadcast once (vocabulary-bounded),
    ONE Arrow-batched mapInPandas, zero shuffle, embarrassingly parallel
    per row.  Ids outside the vocabulary decode to U+FFFD (documented
    sentinel, never produced by a corpus-trained vocabulary on its own
    corpus).  ``byte_fallback``: ids 0..255 are raw UTF-8 bytes
    (:func:`bpe_vocab` with ``byte_fallback=True``); maximal byte RUNS
    decode as one UTF-8 sequence, so multi-byte characters emitted by the
    encoder's fallback reassemble exactly (gate x83 certifies the full
    loop on out-of-corpus text).  ``keep_cols`` pass through untouched."""
    import pandas as pd  # noqa: F401  (Arrow batches arrive as pandas)

    _check_fallback_vocab(vocab, byte_fallback)
    inv = {i: s for s, i in vocab.items()}
    bc = df.sparkSession.sparkContext.broadcast(inv)
    bf = byte_fallback
    raw = not normalize

    def run(batches):
        iv = bc.value

        def tok(t: int) -> str:
            # byte-exact mode: '▁' in a VOCABULARY token is space the
            # marking produced — map it back per token; byte-fallback
            # chunks (below) decode VERBATIM, which is what lets a literal
            # input U+2581 (encoded as its own bytes by _raw_unit_ids)
            # survive the round trip instead of becoming a space
            s = iv.get(t, "�")
            return s.replace(_SP_MARKER, " ") if raw else s

        def detok(ids) -> str:
            if not bf:
                return "".join(tok(int(t)) for t in ids)
            parts: list[str] = []
            buf = bytearray()
            for t in ids:
                t = int(t)
                if t < _BYTE_BASE:
                    buf.append(t)
                    continue
                if buf:
                    parts.append(buf.decode("utf-8", errors="replace"))
                    buf = bytearray()
                parts.append(tok(t))
            if buf:
                parts.append(buf.decode("utf-8", errors="replace"))
            return "".join(parts)

        for pdf in batches:
            out = pdf[[id_col, *keep_cols]].copy()
            out[out_col] = [detok(ids) for ids in pdf[ids_col]]
            yield out

    id_type = df.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f", {qident(c)} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], F.col(ids_col)
    ).mapInPandas(
        run, f"{qident(id_col)} {id_type}{keep_schema}, {qident(out_col)} string"
    )


#: the full pre-tokenizer contract, one string: 'normalized' = lowercase +
#: whitespace collapse + space-spanning PAIR units (the x76/x86 production
#: config); 'normalized_words' = same normalization, bare WORD units (the
#: word_freq branch — a distinct contract: the pair joiner never appears);
#: 'byte_exact' = the x91 marker mode (case/whitespace preserved)
_NORM_MODES = ("normalized", "normalized_words", "byte_exact")

#: ship-artifact layout/token-scheme version: bumped when the persisted
#: schema or the content-token encoding changes (2 = length-prefixed token
#: fields + format column; 1 = the round-11/12 separator-concat scheme,
#: which carried no format column)
_ARTIFACT_FORMAT = 2


class TokenizerArtifact:
    """A loaded tokenizer ship artifact: the merge table, the vocabulary,
    and the CONTRACT it was trained under — ``norm_mode`` (one of
    :data:`_NORM_MODES`; the mode encodes BOTH the normalization and the
    unit shape, because a pair-unit table applied over word units — or
    vice versa — mis-tokenizes silently) and ``byte_fallback``.  The
    encode/decode methods dispatch the right pre-tokenizer from the
    stored mode, so a job that loads an artifact CANNOT apply it in the
    wrong mode — the failure the meta table exists to prevent (gates
    x86/x94 certify the round trip digest-for-digest)."""

    def __init__(
        self,
        merges: list[tuple[str, str]],
        vocab: dict[str, int],
        norm_mode: str,
        byte_fallback: bool,
    ) -> None:
        if norm_mode not in _NORM_MODES:
            raise ValueError(f"unknown norm_mode: {norm_mode!r}")
        _check_fallback_vocab(vocab, byte_fallback)
        self.merges = list(merges)
        self.vocab = dict(vocab)
        self.norm_mode = norm_mode
        self.byte_fallback = byte_fallback

    @property
    def _raw(self) -> bool:
        return self.norm_mode == "byte_exact"

    @property
    def _units(self) -> bool:
        return self.norm_mode == "normalized"

    def encode_ids(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        keep_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """:func:`bpe_encode_ids` under the artifact's own contract."""
        return bpe_encode_ids(
            docs, self.merges, self.vocab, text_col, id_col,
            units=self._units, keep_cols=keep_cols,
            byte_fallback=self.byte_fallback, normalize=not self._raw,
        )

    def encode(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """:func:`bpe_encode` (digest form) under the artifact's contract."""
        return bpe_encode(
            docs, self.merges, self.vocab, text_col, id_col,
            units=self._units, byte_fallback=self.byte_fallback,
            normalize=not self._raw,
        )

    def decode_ids(
        self,
        df: DataFrame,
        ids_col: str = "ids",
        id_col: str = "doc_id",
        out_col: str = "text_rt",
        keep_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """:func:`bpe_decode_ids` under the artifact's contract."""
        return bpe_decode_ids(
            df, self.vocab, ids_col, id_col, out_col, keep_cols,
            byte_fallback=self.byte_fallback, normalize=not self._raw,
        )


def _artifact_token(
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    norm_mode: str,
    byte_fallback: bool,
) -> str:
    """Deterministic content token pairing the artifact's tables with its
    contract — written to ``meta`` first and to ``commit`` LAST, so a save
    that dies between the per-table overwrites leaves a token MISMATCH
    that :func:`load_tokenizer` turns into a loud error instead of a
    silently mis-paired artifact (old contract over new tables).

    Every field is LENGTH-PREFIXED before hashing (round-12 advice):
    tokens come from corpus text and can contain any character, so a
    separator-based concatenation could make two different (merges, vocab)
    pairs hash identically; the length prefix makes the byte stream an
    unambiguous encoding of the field sequence.  The format version is
    hashed in AND persisted in meta, so an artifact written under an
    older token scheme fails load with a FORMAT error, never a
    misleading 'torn or corrupted' one."""
    import hashlib

    h = hashlib.sha256()

    def field(s: str) -> None:
        b = s.encode()
        h.update(len(b).to_bytes(4, "big"))
        h.update(b)

    field(str(_ARTIFACT_FORMAT))
    field(norm_mode)
    field(str(byte_fallback))
    h.update(len(merges).to_bytes(4, "big"))
    for a, b in merges:
        field(a)
        field(b)
    h.update(len(vocab).to_bytes(4, "big"))
    for tok, i in sorted(vocab.items(), key=lambda kv: kv[1]):
        field(str(i))
        field(tok)
    return h.hexdigest()


def save_tokenizer(
    spark,
    path: str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    norm_mode: str = "normalized",
    byte_fallback: bool = True,
) -> None:
    """Persist a tokenizer as the ship artifact the certification gates
    round-trip (x86/x94): ``merges`` (rank/lhs/rhs, rank order IS
    application order), ``vocab`` (token/id), the one-row ``meta``
    contract (norm_mode, byte_fallback, content token), and a ``commit``
    marker carrying the same token written LAST — parquet overwrites are
    not atomic across tables, so a save that dies mid-way leaves
    meta/commit tokens disagreeing and :func:`load_tokenizer` fails
    loudly instead of applying a stale contract to new tables.
    Everything is vocabulary-bounded — a few MB at a real 32k-merge
    vocabulary."""
    if norm_mode not in _NORM_MODES:
        raise ValueError(f"unknown norm_mode: {norm_mode!r}")
    _check_fallback_vocab(vocab, byte_fallback)
    token = _artifact_token(merges, vocab, norm_mode, byte_fallback)
    spark.createDataFrame(
        [(norm_mode, byte_fallback, token, _ARTIFACT_FORMAT)],
        "norm_mode string, byte_fallback boolean, content_token string, "
        "format int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank bigint, lhs string, rhs string",
    ).write.mode("overwrite").parquet(f"{path}/merges")
    spark.createDataFrame(
        sorted(vocab.items(), key=lambda kv: kv[1]), "token string, id bigint"
    ).write.mode("overwrite").parquet(f"{path}/vocab")
    spark.createDataFrame(
        [(token,)], "content_token string"
    ).write.mode("overwrite").parquet(f"{path}/commit")


def load_tokenizer(spark, path: str) -> TokenizerArtifact:
    """Reload a :func:`save_tokenizer` artifact; the returned
    :class:`TokenizerArtifact` applies itself under the PERSISTED contract
    (round-11 verdict #2's point: the caller never guesses the mode).
    Verifies the torn-save guard: the reloaded tables' content token must
    equal BOTH the meta row's and the commit marker's.  Bounded collects
    only (merge rows + vocabulary rows + two one-row tables)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    fmt = meta["format"] if "format" in meta.__fields__ else 1
    if fmt != _ARTIFACT_FORMAT:
        raise RuntimeError(
            f"tokenizer artifact at {path} has format version {fmt}; this "
            f"build reads format {_ARTIFACT_FORMAT} — re-save it with this "
            "build's save_tokenizer (the content-token scheme changed, so "
            "the torn-save check cannot validate cross-format artifacts)"
        )
    merges = [
        (r["lhs"], r["rhs"])
        for r in spark.read.parquet(f"{path}/merges").orderBy("merge_rank").collect()
    ]
    vocab = {
        r["token"]: int(r["id"])
        for r in spark.read.parquet(f"{path}/vocab").collect()
    }
    commit = spark.read.parquet(f"{path}/commit").collect()[0]["content_token"]
    expect = _artifact_token(
        merges, vocab, meta["norm_mode"], bool(meta["byte_fallback"])
    )
    if not (meta["content_token"] == commit == expect):
        raise RuntimeError(
            f"torn or corrupted tokenizer artifact at {path}: meta/commit/"
            "content tokens disagree (a save died mid-overwrite, or the "
            "tables were modified outside save_tokenizer)"
        )
    return TokenizerArtifact(
        merges, vocab, meta["norm_mode"], bool(meta["byte_fallback"])
    )
