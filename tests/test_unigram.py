"""Unigram-LM tokenizer family (operators/unigram.py, gates x125-x127)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hiveka_spark.operators.unigram import (
    UNK_COST_Q,
    _cost_table,
    _em_counts,
    _seed_counts,
    _viterbi,
    unigram_apply_fast,
    unigram_train,
)

from .conftest import SF_SMOKE


def _brute_best(w: str, cost: dict[str, int], mpl: int):
    """Exhaustive minimum path cost over ALL segmentations (pieces from the
    vocab only) — the oracle for Viterbi optimality."""
    best = {0: 0}
    for j in range(1, len(w) + 1):
        cands = []
        for l in range(1, min(mpl, j) + 1):
            c = cost.get(w[j - l : j])
            if c is not None and (j - l) in best:
                cands.append(best[j - l] + c)
        if cands:
            best[j] = min(cands)
    return best.get(len(w))


def test_viterbi_is_optimal_small_vocab():
    cost = {"a": 5, "b": 7, "ab": 9, "ba": 4, "aba": 20, "bb": 3}
    for w in ["a", "ab", "aba", "abba", "bababab", "aabb", "bbbbb"]:
        segs = _viterbi(w, cost, 3)
        assert "".join(segs) == w
        assert sum(cost[p] for p in segs) == _brute_best(w, cost, 3)


def test_viterbi_tie_prefers_longer_then_lex():
    # two equal-cost paths: ('ab',) vs ('a','b') with cost(ab)=cost(a)+cost(b)
    cost = {"a": 3, "b": 4, "ab": 7}
    assert _viterbi("ab", cost, 2) == ["ab"]  # longer piece wins the tie
    # equal cost, equal length at the same end position: lex-smaller piece
    # ('xy' vs 'xz' can't collide on the same text; exercise via dp ties)
    cost2 = {"x": 5, "y": 5, "xy": 10, "yy": 10}
    segs = _viterbi("xyy", cost2, 2)
    assert "".join(segs) == "xyy"


def test_viterbi_unk_fallback_and_training_invariant():
    cost = {"a": 2}
    with pytest.raises(ValueError):
        _viterbi("az", cost, 3)
    segs = _viterbi("az", cost, 3, unk_chars=True)
    assert segs == ["a", "z"]
    # UNK is strictly worse than any trained cost at realistic Z
    assert UNK_COST_Q > math.floor(1e6 * math.log(2**53))


def test_cost_table_matches_duckdb_ln(duck):
    counts = {"a": 914, "b": 13, "ab": 0, "xyz": 12345}
    z = sum(c + 1 for c in counts.values())
    got = _cost_table(counts)
    for p, c in counts.items():
        (dq,) = duck.sql(
            f"SELECT CAST(FLOOR(1000000.0 * (ln(CAST({z} AS DOUBLE)) "
            f"- ln(CAST({c + 1} AS DOUBLE)))) AS BIGINT)"
        ).fetchone()
        assert got[p] == dq, p


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="ab▁ x", min_size=0, max_size=24))
def test_em_counts_cover_mass(text):
    """Hard-EM counts from any unit set conserve the symbol mass: the sum of
    len(piece)*count over the segmentation counts equals the weighted
    character mass of the units."""
    units = [(u.replace(" ", "▁"), 3) for u in text.split(" ") if u]
    if not units:
        return
    seed = _seed_counts(units, 4)
    out = _em_counts(units, seed, 4)
    assert sum(len(p) * c for p, c in out.items()) == sum(
        len(w) * f for w, f in units
    )


def test_train_apply_roundtrip_sf(spark):
    from hiveka_spark.catalog import table

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train(d, "text", max_words=200, n_seed=64, keep_multi=32)
    # chars first, then multi, each block piece-ascending; costs finite
    pieces = [p for p, _c, _q in vocab]
    n_char = sum(1 for p in pieces if len(p) == 1)
    assert pieces[:n_char] == sorted(pieces[:n_char])
    assert all(len(p) > 1 for p in pieces[n_char:])
    assert pieces[n_char:] == sorted(pieces[n_char:])
    out = unigram_apply_fast(d, vocab, "text", "doc_id").collect()
    assert all(r.roundtrip_ok for r in out)
    assert all(r.n_tokens >= 0 for r in out)
    # NULL/empty text rows still come back (0 tokens)
    assert len(out) == d.count()


def test_apply_handles_oov_chars(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "aé▁\U0001f980c"), (3, None), (4, "")],
        "doc_id bigint, text string",
    )
    vocab = [("a", 5, 100), ("b", 5, 100), ("c", 5, 100), ("ab", 5, 150)]
    rows = {r.doc_id: r for r in unigram_apply_fast(df, vocab, "text", "doc_id").collect()}
    assert rows[1].n_tokens == 2 and rows[1].roundtrip_ok  # ab + c
    assert rows[2].roundtrip_ok  # OOV chars segment as UNK singles
    # units: 'aé' -> a + é(UNK); '▁'(literal marker run) -> UNK; '🦀c' -> UNK + c
    assert rows[2].n_tokens == 5
    assert rows[3].n_tokens == 0 and rows[3].roundtrip_ok
    assert rows[4].n_tokens == 0 and rows[4].roundtrip_ok


def test_gate_constants_consistent():
    from hiveka_spark.queries import tokenizer_ext as T

    assert T._UG_KEEP_MULTI <= T._UG_SEED
    assert T._UG_MAX_PIECE >= 2


def test_unigram_artifact_roundtrip_and_torn_save(spark, tmp_path, monkeypatch):
    from hiveka_spark.operators.unigram import (
        load_unigram,
        save_unigram,
        unigram_train,
    )
    from hiveka_spark.catalog import table

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train(d, "text", max_words=100, n_seed=32, keep_multi=16)
    path = str(tmp_path / "art")
    save_unigram(spark, path, vocab, 5)
    rows, mpl = load_unigram(spark, path)
    assert rows == vocab and mpl == 5

    # a save that dies before its publish leaves the previous artifact
    # whole and loadable
    from hiveka_spark import commit

    def crash(staged, target):
        raise OSError("crash before publish")

    monkeypatch.setattr(commit, "publish", crash)
    with pytest.raises(OSError, match="crash before publish"):
        save_unigram(spark, path, vocab[:-1], 5)
    monkeypatch.undo()
    assert load_unigram(spark, path) == (vocab, 5)
    with pytest.raises(RuntimeError, match="no published unigram"):
        load_unigram(spark, commit.staging_path(path))

    # a tampered table fails the content-token check
    import shutil

    save_unigram(spark, str(tmp_path / "art2"), vocab[:-1], 5)
    shutil.rmtree(path + "/vocab")
    shutil.copytree(str(tmp_path / "art2") + "/vocab", path + "/vocab")
    with pytest.raises(RuntimeError, match="content token"):
        load_unigram(spark, path)


def test_encode_ids_consistent_with_apply_and_order_sensitive(spark):
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.unigram import unigram_encode_ids

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train(d, "text", max_words=200, n_seed=64, keep_multi=32)
    enc = {r.doc_id: r for r in
           unigram_encode_ids(d, vocab, "text", "doc_id").collect()}
    app = {r.doc_id: r for r in
           unigram_apply_fast(d, vocab, "text", "doc_id").collect()}
    assert set(enc) == set(app)
    for k in enc:
        assert enc[k].n_tokens == app[k].n_tokens

    # digest is ORDER-sensitive: two docs with the same tokens in a
    # different order hash differently
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "bb aa")], "doc_id bigint, text string"
    )
    v2 = [("a", 5, 100), ("b", 5, 100), ("aa", 9, 90), ("bb", 9, 90),
          ("▁", 3, 120), ("▁aa", 9, 80), ("▁bb", 9, 80)]
    rows = {r.doc_id: r for r in
            unigram_encode_ids(df, v2, "text", "doc_id").collect()}
    assert rows[1].n_tokens == rows[2].n_tokens == 2
    assert rows[1].ids_digest != rows[2].ids_digest


def _brute_paths(w, cost, mpl):
    if not w:
        yield []
        return
    for l in range(1, min(mpl, len(w)) + 1):
        p = w[-l:]
        if p in cost:
            for rest in _brute_paths(w[:-l], cost, mpl):
                yield rest + [p]


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abc", min_size=1, max_size=10))
def test_nbest_second_cost_is_exact(w):
    """The rank-2 DP cost equals the exact second-smallest path cost over
    ALL segmentations (brute force), for arbitrary small units."""
    from hiveka_spark.operators.unigram import _viterbi_nbest

    cost = {"a": 5, "b": 7, "c": 6, "ab": 9, "bc": 10, "ca": 8,
            "abc": 19, "aa": 11}
    dp = _viterbi_nbest(w, cost, 3, unk_chars=True)
    fin = dp[len(w)]
    full = dict(cost)
    # brute force must see UNK singles the DP can take
    for ch in set(w) - set("abc"):
        full[ch] = 40_000_000
    costs = sorted(sum(full[p] for p in path)
                   for path in _brute_paths(w, full, 3))
    assert fin[0][0] == costs[0]
    if len(fin) > 1:
        assert fin[1][0] == costs[1]
    else:
        assert len(costs) == 1


def test_sampled_encode_flips_and_differs(spark):
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.unigram import (
        unigram_encode_ids,
        unigram_sampled_encode,
    )

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train(d, "text", max_words=200, n_seed=64, keep_multi=32)
    base = {r.doc_id: r for r in
            unigram_encode_ids(d, vocab, "text", "doc_id").collect()}
    samp = {r.doc_id: r for r in
            unigram_sampled_encode(d, vocab, "text", "doc_id").collect()}
    assert set(base) == set(samp)
    flipped = [k for k in samp if samp[k].n_sampled > 0]
    assert flipped, "sampling never fired"
    # a doc with flips must differ from its 1-best stream in digest or count
    diff = [k for k in flipped
            if (samp[k].ids_digest, samp[k].n_tokens)
            != (base[k].ids_digest, base[k].n_tokens)]
    assert len(diff) >= len(flipped) * 9 // 10
    # unflipped docs are byte-identical to the 1-best stream
    for k in samp:
        if samp[k].n_sampled == 0:
            assert samp[k].ids_digest == base[k].ids_digest
            assert samp[k].n_tokens == base[k].n_tokens


def test_epoch_sampled_streams_differ_across_epochs(spark):
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.unigram import unigram_epoch_sampled_encode

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train(d, "text", max_words=200, n_seed=64, keep_multi=32)
    rows = unigram_epoch_sampled_encode(
        d, vocab, ("sre0_", "sre1_"), "text", "doc_id"
    ).collect()
    by_ep = {}
    for r in rows:
        by_ep.setdefault(r.epoch, {})[r.doc_id] = (r.n_tokens, r.ids_digest)
    assert set(by_ep) == {0, 1}
    assert set(by_ep[0]) == set(by_ep[1])
    diff = [k for k in by_ep[0] if by_ep[0][k] != by_ep[1][k]]
    # the two epochs genuinely differ on a meaningful share of docs
    assert len(diff) > len(by_ep[0]) // 10, f"only {len(diff)} docs differ"


def test_unigram_score_matches_viterbi_cost(spark):
    from hiveka_spark.operators.unigram import unigram_score

    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "zz"), (3, None)], "doc_id bigint, text string"
    )
    vocab = [("a", 5, 100), ("b", 5, 110), ("▁", 3, 120), ("ab", 9, 150),
             ("▁ab", 9, 140)]
    rows = {r.doc_id: r for r in unigram_score(df, vocab, "text", "doc_id").collect()}
    # 'ab ab' -> units 'ab', '▁ab' -> pieces ab + ▁ab = 150 + 140
    assert rows[1].n_tokens == 2 and rows[1].cost_q_total == 290
    # 'zz' -> two UNK singles
    from hiveka_spark.operators.unigram import UNK_COST_Q

    assert rows[2].n_tokens == 2 and rows[2].cost_q_total == 2 * UNK_COST_Q
    assert rows[3].n_tokens == 0 and rows[3].cost_q_total == 0


@settings(max_examples=80, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=1, max_size=12),
    st.sets(
        st.text(alphabet="abcd", min_size=2, max_size=4), min_size=0,
        max_size=8,
    ),
)
def test_nbest_rank1_equals_plain_viterbi(w, multi):
    """On random units and random multi-char vocabularies, the k-best DP's
    rank-1 path is exactly the plain Viterbi path (same cost, same
    pieces) — the two implementations can never drift."""
    from hiveka_spark.operators.unigram import _nbest_backtrace, _viterbi_nbest

    cost = {c: 100 + 7 * i for i, c in enumerate("abcd")}
    for j, p in enumerate(sorted(multi)):
        cost[p] = 150 + 13 * j
    best = _viterbi(w, cost, 4, unk_chars=True)
    dp = _viterbi_nbest(w, cost, 4, unk_chars=True)
    assert _nbest_backtrace(w, dp, 1) == best
    assert dp[len(w)][0][0] == sum(
        cost.get(p, 40_000_000) for p in best
    )


def test_byte_fallback_lossless_on_oov(spark):
    from hiveka_spark.operators.unigram import unigram_encode_bytes

    vocab = [("a", 5, 100), ("b", 5, 110), ("▁", 3, 120), ("ab", 9, 150)]
    df = spark.createDataFrame(
        [(1, "ab Ωé🦀"), (2, "ab"), (3, None)], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in
            unigram_encode_bytes(df, vocab, "text", "doc_id").collect()}
    assert rows[1].roundtrip_ok == 1
    # unit 'ab' -> piece id; unit '▁Ωé🦀' -> ▁(piece) + Ω(2B) + é(2B) + 🦀(4B)
    assert rows[1].n_fallback_bytes == 8
    assert rows[1].n_tokens == 1 + 1 + 8
    assert rows[2].n_fallback_bytes == 0 and rows[2].roundtrip_ok == 1
    assert rows[3].n_tokens == 0 and rows[3].roundtrip_ok == 1
    # byte-level order sensitivity: ids_digest differs between docs
    assert rows[1].ids_digest != rows[2].ids_digest


def test_unit_cap_tie_breaks_on_code_points(spark):
    """Round-14 advice pin: the max_words cut line tie-breaks equal-freq
    units in CODE-POINT order (the DuckDB-oracle / driver-EM order), not
    UTF-16 code-unit order — for astral units the two diverge (surrogates
    0xD800-0xDFFF sort below BMP 0xE000+ in UTF-16).  U+FFFD (65533) must
    win the cut against U+10000 (65536)."""
    from hiveka_spark.operators.unigram import unigram_train

    docs = spark.createDataFrame([("\U00010000 �",)], "text string")
    vocab = unigram_train(docs, max_words=1, max_piece_len=2)
    pieces = {p for p, _, _ in vocab}
    assert any("�" in p for p in pieces), pieces
    assert not any("\U00010000" in p for p in pieces), pieces


def test_lse_tables_are_the_checked_in_literals(duck):
    """The soft E-step's two quantization tables are now CHECKED-IN
    literals (round-16 advice fix): Python reads them, the x141 oracle
    embeds them as SQL list constants — so the engine-parity seam is
    definitional.  This test documents (a) that on this host the literals
    equal the float-generated values they were produced from, (b) that the
    oracle SQL contains the literal (not ln/exp), and (c) the boundary
    semantics (bucket 1400 floors both tables to 0)."""
    import math

    from hiveka_spark.operators._lse_literals import LSE_CORR, LSE_EXPW
    from hiveka_spark.operators.unigram import _LSE_MAX_B, _lse_tables
    from hiveka_spark.queries.tokenizer_ext import _UGS_TABLES

    corr, expw = _lse_tables()
    assert corr == list(LSE_CORR) and expw == list(LSE_EXPW)
    assert len(corr) == len(expw) == _LSE_MAX_B + 1 == 1401
    gen_corr = [math.floor(1_000_000 * math.log(1.0 + math.exp(-b / 100.0)))
                for b in range(1401)]
    gen_expw = [math.floor(1_000_000 * math.exp(-b / 100.0))
                for b in range(1401)]
    assert corr == gen_corr and expw == gen_expw
    # the oracle carries the literals, not runtime ln/exp
    assert "ln(" not in _UGS_TABLES and "exp(" not in _UGS_TABLES
    assert str(LSE_CORR[1]) in _UGS_TABLES and str(LSE_EXPW[1]) in _UGS_TABLES
    # DuckDB reads the literal back verbatim
    cl, el = duck.sql(f"WITH {_UGS_TABLES} SELECT cl, el"
                      " FROM ugs_corrl, ugs_expwl").fetchone()
    assert list(cl) == corr and list(el) == expw
    # boundary semantics: the table is exactly long enough — the last
    # bucket's correction/weight is 0, so capping at 1400 loses nothing
    assert corr[1400] == 0 and expw[1400] == 0


def test_soft_em_diverges_from_hard_on_ambiguous_corpus(spark):
    """The round-14 verdict's divergence fixture: on a corpus of
    overlapping repeats (abab/abba/baba...) the 1-best E-step routes ALL
    mass through its tie-broken winner while forward-backward spreads
    posterior mass over competing segmentations — the two trainers ship
    genuinely different vocabularies, pinned here so the families can
    never silently collapse into one another."""
    from hiveka_spark.operators.unigram import (
        unigram_train,
        unigram_train_soft,
    )

    docs = spark.createDataFrame(
        [(i, "abab abba baba ab ba aa bb abab abba") for i in range(3)]
        + [(9, "xyz xy yz zx xyz")],
        "doc_id bigint, text string",
    )
    hard = unigram_train(docs, max_words=50, max_piece_len=3,
                         n_seed=40, keep_multi=8)
    soft = unigram_train_soft(docs, max_words=50, max_piece_len=3,
                              n_seed=40, keep_multi=8)
    hp = {p for p, _, _ in hard}
    sp = {p for p, _, _ in soft}
    # pinned divergence: soft's posterior mass keeps the short prefix
    # piece, hard's 1-best count ranking keeps the longer rare one
    assert "▁a" in sp - hp, sorted(sp - hp)
    assert "▁aa" in hp - sp, sorted(hp - sp)
    # characters shadowed by multi-char pieces get ZERO count under
    # 1-best (never on a winning path) but real posterior mass under
    # forward-backward — the soft-EM signature
    hd = {p: c for p, c, _ in hard}
    sd = {p: c for p, c, _ in soft}
    assert hd["a"] == 0 and hd["b"] == 0
    assert sd["a"] > 0 and sd["b"] > 0


def test_soft_vocab_round_trips_through_apply(spark):
    """A soft-trained vocabulary is a drop-in for the apply path: every
    document tokenizes with the lossless round-trip certificate intact
    (chars are always kept, so coverage holds by construction)."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.unigram import (
        unigram_apply_fast,
        unigram_train_soft,
    )

    from .conftest import SF_SMOKE

    d = table(spark, SF_SMOKE, "documents")
    vocab = unigram_train_soft(d, max_words=200, max_piece_len=4,
                               n_seed=128, keep_multi=64)
    out = unigram_apply_fast(d, vocab, max_piece_len=4).collect()
    assert out and all(r.roundtrip_ok for r in out)
    assert any(r.n_tokens > 0 for r in out)


# ---------------------------------------------------------------------------
# x147: iterative prune schedule (round-15 verdict #4)
# ---------------------------------------------------------------------------


def test_prune_schedule_shape():
    from hiveka_spark.operators.unigram import prune_schedule

    assert prune_schedule(256, 128) == [256, 192, 144, 128]
    assert prune_schedule(8, 3) == [8, 6, 5, 4, 3]
    assert prune_schedule(4, 3) == [4, 3]
    assert prune_schedule(128, 128) == [128]


def test_iterative_prune_keeps_piece_one_shot_drops(spark):
    """The verdict's 'done' fixture: under gradual pruning, 'abc' is
    re-ranked by a fresh E-step after its shadowing competitors die in
    round 1 and SURVIVES; the one-shot cut drops it.  Both arms are
    otherwise the identical arithmetic."""
    from hiveka_spark.operators.unigram import (
        unigram_train_soft,
        unigram_train_soft_iterative,
    )

    freqs = [("cdea", 8), ("bcde", 6), ("abc", 8), ("abcf", 5),
             ("deab", 2), ("cde", 2)]
    text = " ".join(w for w, f in freqs for _ in range(f))
    df = spark.createDataFrame([(text,)], "text string")
    one = unigram_train_soft(df, n_seed=8, keep_multi=3, max_words=50)
    it = unigram_train_soft_iterative(df, n_seed=8, keep_multi=3,
                                      max_words=50)
    v1 = {p for p, _, _ in one if len(p) > 1}
    v2 = {p for p, _, _ in it if len(p) > 1}
    assert len(v1) == len(v2) == 3
    assert v1 != v2, "fixture no longer diverges"
    assert "abc" in v2 and "abc" not in v1, (sorted(v1), sorted(v2))


def test_iterative_prune_degenerates_to_one_shot_on_single_cut(spark):
    """When the schedule has exactly one cut (ceil(3/4 * n_seed) <=
    keep_multi), the iterative trainer IS the one-shot trainer — same
    vocabulary, counts, and costs."""
    from hiveka_spark.operators.unigram import (
        prune_schedule,
        unigram_train_soft,
        unigram_train_soft_iterative,
    )

    assert len(prune_schedule(4, 3)) == 2
    df = spark.createDataFrame(
        [("abcd abcd abc bcd ab cd abcd bc",)], "text string"
    )
    one = unigram_train_soft(df, n_seed=4, keep_multi=3, max_words=50)
    it = unigram_train_soft_iterative(df, n_seed=4, keep_multi=3,
                                      max_words=50)
    assert one == it
