"""Operator-level semantics and quality properties (recall vs exact methods)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hiveka_spark.catalog import table
from hiveka_spark.operators import dedup as D
from hiveka_spark.operators import similarity as S
from hiveka_spark.operators.asof import asof_join

from .conftest import SF_SMOKE


# ---------------------------------------------------------------- exact dedup
def test_exact_dedup_collapses_copies(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")], ["id", "t"]
    )
    out = {r["t"]: r for r in D.exact_dedup(df, ["t"], "id").collect()}
    assert out["aa"]["canonical_id"] == 1 and out["aa"]["copies"] == 3
    assert out["bb"]["canonical_id"] == 3 and out["bb"]["copies"] == 1


# ------------------------------------------------------------------- minhash
def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover >=90% of true jaccard>=0.8 pairs and the
    verified output must be exactly the true pairs it found (no false
    positives after verification)."""
    docs = table(spark, SF_SMOKE, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(docs, num_perm=32, bands=8, verify_threshold=0.8).collect()
    }
    assert true_pairs, "fixture should contain planted near-duplicates"
    assert got <= true_pairs  # verification kills false positives
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(got)}/{len(true_pairs)})"


def test_minhash_signature_shape(spark):
    docs = table(spark, SF_SMOKE, "documents").limit(20)
    sig = D.minhash_signatures(docs, num_perm=16).collect()
    assert all(len(r["signature"]) == 16 for r in sig)
    assert all(all(v >= 0 for v in r["signature"]) for r in sig)


# ------------------------------------------------------------------- simhash
def test_simhash_neardups_have_small_hamming(spark):
    """Near-identical docs (true jaccard >= 0.9) should mostly collide within
    the simhash hamming radius."""
    docs = table(spark, SF_SMOKE, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    sim_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_pairs(docs, bits=32, bands=4, max_hamming=3).collect()
    }
    assert true_pairs
    covered = len(true_pairs & sim_pairs) / len(true_pairs)
    assert covered >= 0.8, f"simhash covered only {covered:.2f} of true near-dups"


# ---------------------------------------------------------------- similarity
def test_lsh_topk_recall(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = S.brute_force_topk(emb, queries, k=5).collect()
    approx = S.lsh_topk(emb, queries, k=5, n_planes=4).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(bset & aset) / len(bset)
    # 4 hyperplanes ~ 16 buckets over 500 vectors: recall is partial by
    # design; assert it beats random-bucket chance materially
    assert recall >= 0.3, f"lsh recall {recall:.2f}"
    # approx scores must be true cosines: every (q,n,cos) in approx matches brute's
    bcos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in bcos:
            assert abs(r["cosine"] - bcos[key]) < 1e-12


def test_brute_force_topk_is_sorted_and_complete(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)


# -------------------------------------------------------------------- as-of
def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (2, 50, "p3")], ["k", "ts", "pid"]
    )
    right = spark.createDataFrame(
        [(1, 90, "c1"), (1, 200, "c2"), (1, 205, "c3"), (3, 10, "cX")], ["k", "ts", "cid"]
    )
    out = {
        r["pid"]: r
        for r in asof_join(left, right, "k", "ts", "ts", ["cid"]).collect()
    }
    assert out["p1"]["cid"] == "c1" and out["p1"]["asof_gap_ms"] == 10
    # equal timestamps match (backward-inclusive)
    assert out["p2"]["cid"] == "c3" and out["p2"]["asof_gap_ms"] == 0
    assert out["p3"]["cid"] is None and out["p3"]["asof_gap_ms"] is None


def test_asof_join_atomic_match(spark):
    """The matched right row is carried as ONE struct: when the most recent
    right row has a NULL in one value column, that NULL must surface (not be
    back-filled from an older right row), and asof_gap_ms must reflect the
    same row the values came from."""
    left = spark.createDataFrame([(1, 300, "p1")], ["k", "ts", "pid"])
    right = spark.createDataFrame(
        [(1, 100, "old", 11), (1, 200, None, 22)], ["k", "ts", "cid", "amt"]
    )
    (row,) = asof_join(left, right, "k", "ts", "ts", ["cid", "amt"]).collect()
    assert row["amt"] == 22 and row["asof_gap_ms"] == 100
    # cid comes from the SAME (ts=200) row: NULL, not "old" from ts=100
    assert row["cid"] is None


def test_asof_join_tolerance_and_inner(spark):
    left = spark.createDataFrame([(1, 1000, "p1"), (1, 5000, "p2")], ["k", "ts", "pid"])
    right = spark.createDataFrame([(1, 900, "c1")], ["k", "ts", "cid"])
    tol = {
        r["pid"]: r
        for r in asof_join(left, right, "k", "ts", "ts", ["cid"], tolerance_ms=500).collect()
    }
    assert tol["p1"]["cid"] == "c1"
    assert tol["p2"]["cid"] is None  # 4100ms back > tolerance
    inner = asof_join(left, right, "k", "ts", "ts", ["cid"], tolerance_ms=500, how="inner")
    assert [r["pid"] for r in inner.collect()] == ["p1"]


# ------------------------------------------------------------ jaccard pairs
def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w q r")], ["doc_id", "text"]
    )
    out = D.ngram_jaccard_pairs(df, threshold=0.99).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["jaccard"]) == (1, 2, 1.0)


# ------------------------------------------------------------ approx sketches
def test_approx_count_distinct_accuracy(spark):
    """q36's HLL++ estimates must land within the configured 2% rsd of exact
    (5% tolerance for sampling slack at small n)."""
    import pyspark.sql.functions as F

    from hiveka_spark.catalog import table

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert abs(r["approx"] - r["exact"]) <= max(0.05 * r["exact"], 2)


def test_lsh_neardup_recall_and_precision(spark):
    """x05's blocked plan vs the exact all-pairs baseline: precision must be
    1.0 (exact verify on candidates — every emitted pair IS above threshold),
    recall >= 0.7 at the hostile gate threshold 0.4 (theory for 8 tables x 4
    planes: 1-(1-p^4)^8 ~ 0.75 at cos 0.4, ~0.998 at the realistic near-dup
    regime cos 0.9)."""
    emb = table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in S.cosine_neardup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in S.lsh_neardup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    assert approx <= exact, "blocking emitted a pair below threshold"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"lsh neardup recall {recall:.2f}"


def test_ivf_topk_recall(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = S.brute_force_topk(emb, queries, k=5).collect()
    approx = S.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(bset & aset) / len(bset)
    # probing 4/16 cells: high-cosine neighbors concentrate in nearby cells
    assert recall >= 0.5, f"ivf recall {recall:.2f}"
    # scores must be true cosines
    bcos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in bcos:
            assert abs(r["cosine"] - bcos[key]) < 1e-12


def test_salted_join_equals_plain_join(spark):
    from hiveka_spark.operators.skew import salted_join

    li = table(spark, "/root/testdata/sf0.001", "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, "/root/testdata/sf0.001", "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
    salted = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        ["k"], salt_n=4,
    ).count()
    assert salted == plain


def test_salted_join_rejects_right_preserving_joins(spark):
    """Right/full outer joins would emit unmatched right rows salt_n times
    (the right side is replicated per salt) — must raise, not corrupt."""
    import pytest

    from hiveka_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([(1, "y")], ["k", "w"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(a, b, ["k"], salt_n=4, how=how)
    # left semi/anti stay supported (right replication preserves semantics)
    assert salted_join(a, b, ["k"], salt_n=4, how="left_semi").count() == 1
    assert salted_join(a, b, ["k"], salt_n=4, how="left_anti").count() == 0


def test_fuzzy_decontamination_recall_vs_exact(spark):
    """Every exact cross-corpus Jaccard>=0.8 pair must also be reported by the
    MinHash path at these (perm, band) settings on the fixture, and every
    reported pair must verify exactly (precision 1.0 by construction)."""
    import pyspark.sql.functions as F

    from hiveka_spark.operators import dedup as D

    d = table(spark, SF_SMOKE, "documents")
    ev = d.filter(F.col("source").isin("src0", "src1", "src2", "src3", "src4"))
    tr = d.filter(~F.col("source").isin("src0", "src1", "src2", "src3", "src4"))
    got = {
        (r["train_id"], r["eval_id"])
        for r in D.minhash_cross_contamination(tr, ev, threshold=0.8).collect()
    }
    exact = D.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.8)
    ev_ids = {r["doc_id"] for r in ev.select("doc_id").collect()}
    want = set()
    for r in exact.collect():
        a, b = r["id_a"], r["id_b"]
        if (a in ev_ids) != (b in ev_ids):  # cross-corpus pairs only
            want.add((b, a) if a in ev_ids else (a, b))
    assert want, "fixture should contain cross-corpus near-dups"
    assert want <= got  # recall 1.0 on the fixture at these settings
    for t, e in got:
        assert t not in ev_ids and e in ev_ids


# --------------------------------------------------------- cache lifecycle
def test_dedup_cache_scope_unpersists_on_exit(spark):
    """VERDICT r4 #7: the MEMORY_AND_DISK persists dedup operators create
    (shingle sets + verified pair set) are caller-owned via
    dedup_cache_scope — live inside the scope, unpersisted on exit, so a
    long-lived session doesn't accumulate cache entries."""
    docs = table(spark, SF_SMOKE, "documents").limit(40)
    with D.dedup_cache_scope() as tracked:
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
        pairs.count()  # materialize: caches go live
        assert len(tracked) >= 2  # shingle sets + verified pairs
        assert all(f.storageLevel.useMemory or f.storageLevel.useDisk for f in tracked)
        inner = list(tracked)
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in inner
    ), "scope exit must unpersist every tracked frame"


def test_dedup_cache_scope_nests(spark):
    docs = table(spark, SF_SMOKE, "documents").limit(20)
    with D.dedup_cache_scope() as outer:
        D.ngram_jaccard_pairs(docs, threshold=0.9, reuse=True)
        n_outer = len(outer)
        with D.dedup_cache_scope() as inner:
            D.ngram_jaccard_pairs(docs.limit(10), threshold=0.9, reuse=True)
            assert len(inner) >= 1
        # inner scope owns only its own persists
        assert len(outer) == n_outer


# ------------------------------------------------------ adversarial skew
def _hot_shingle_corpus(spark, n_docs=400, hot_frac=0.5, n_dup_pairs=5):
    """Synthetic corpus where one 3-gram shingle appears in ``hot_frac`` of
    docs (planted skew), every other shingle is doc-unique, plus
    ``n_dup_pairs`` planted exact-duplicate pairs."""
    rows = []
    for i in range(n_docs):
        uniq = " ".join(f"w{i}x{j}" for j in range(12))
        hot = "common tag phrase " if i < n_docs * hot_frac else ""
        rows.append((i, f"{hot}{uniq}"))
    for p in range(n_dup_pairs):  # duplicate pairs: ids beyond the corpus
        text = " ".join(f"dup{p}w{j}" for j in range(12))
        rows.append((n_docs + 2 * p, text))
        rows.append((n_docs + 2 * p + 1, text))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_hot_shingle_prefix_filter_bounds_candidates(spark):
    """VERDICT r4 #3: a shingle planted in 50% of docs must contribute ZERO
    candidate pairs — it sorts last in the global rarity order and never
    enters any doc's prefix — so the candidate count is bounded by the
    planted duplicate pairs, not the C(hot,2) ~ 20k blowup."""
    docs = _hot_shingle_corpus(spark)
    sh_df = D._shingle_sets(docs, "doc_id", "text", 3, reuse=False)
    cand = D._prefix_candidates(sh_df, 0.8)
    n_cand = cand.count()
    # 5 planted dup pairs; each may be found via several prefix shingles but
    # is distinct-ed; the hot shingle (dfreq=200) must add none of C(200,2)
    assert n_cand <= 3 * 5, f"candidate blowup: {n_cand} (hot shingle leaked)"
    out = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8, reuse=False).collect()
    }
    assert out == {(400 + 2 * p, 400 + 2 * p + 1) for p in range(5)}


def test_hot_band_salted_join_same_pairs(spark):
    """Hot-band fallback: a 60-member exact-duplicate group collides in
    every band; the salted join must return the IDENTICAL pair set while
    splitting each bucket's reducer key 4 ways."""
    rows = [(i, "dup " + " ".join(f"s{j}" for j in range(10))) for i in range(60)]
    rows += [(100 + i, " ".join(f"u{i}x{j}" for j in range(10))) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    unsalted = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, num_perm=16, bands=4, verify_threshold=0.8, reuse=False
        ).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, num_perm=16, bands=4, verify_threshold=0.8, reuse=False, salt=4
        ).collect()
    }
    assert len(unsalted) == 60 * 59 // 2  # the dup group is fully connected
    assert salted == unsalted


# -------------------------------------------------- rule filter / novelty
def test_gopher_rules_flag_each_rule(spark):
    from hiveka_spark.operators.text import with_gopher_rules

    good = "the cat and the dog sat on a mat with many other friendly animals nearby today"
    rows = [
        (1, good),                                   # passes all
        (2, "too short a doc"),                      # wc_ok = 0
        (3, "the " + " ".join(["pneumonoultramicroscopics"] * 30)),  # len_ok = 0
        (4, "the of " + " ".join(str(n) for n in range(30))),        # alpha_ok = 0
        (5, " ".join(f"zz{i} qq{i}" for i in range(10))),            # stop_ok = 0
    ]
    out = {
        r["doc_id"]: r
        for r in with_gopher_rules(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["keep"] == 1
    assert (out[2]["wc_ok"], out[2]["keep"]) == (0, 0)
    assert (out[3]["len_ok"], out[3]["keep"]) == (0, 0)
    assert (out[4]["alpha_ok"], out[4]["keep"]) == (0, 0)
    assert (out[5]["stop_ok"], out[5]["keep"]) == (0, 0)


def test_shingle_novelty_scores(spark):
    base = " ".join(f"w{j}" for j in range(10))       # 8 shingles, all novel
    rows = [(1, base), (2, base), (3, " ".join(f"v{j}" for j in range(10)))]
    out = {
        r["doc_id"]: r
        for r in D.shingle_novelty(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["novelty"] == 1.0      # first introduction of every shingle
    assert out[2]["novelty"] == 0.0      # exact copy: nothing new
    assert out[3]["novelty"] == 1.0      # disjoint content
    assert out[2]["n_shingles"] == 8 and out[2]["n_novel"] == 0


def test_bloom_decontamination_has_no_false_negatives(spark):
    """The Bloom invariant: a shingle actually present in the eval set can
    NEVER fail the probe (all its bit positions were set at build time), so
    per doc n_bloom_hits >= n_exact_hits and every truly-contaminated doc
    is flagged.  False positives are allowed (and certified by the x62
    oracle); false negatives would be a correctness bug in the bitset
    build or the bit test."""
    from hiveka_spark.operators.dedup import bloom_decontamination

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),  # full copy
            (2, "prefix words then the quick brown fox appears here now"),  # partial
            (3, "completely unrelated content with distinct tokens only ok"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc"]: r
        for r in bloom_decontamination(train, eval_df, m_bits=2**12).collect()
    }
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert r["n_bloom_hits"] >= r["n_exact_hits"]
    assert rows[1]["flagged"] == 1 and rows[1]["n_exact_hits"] == rows[1]["n_shingles"]
    assert rows[2]["n_exact_hits"] > 0 and rows[2]["flagged"] == 1


# ----------------------------------------------------------------- sentiment
def test_sentiment_pandas_twin_matches_jvm(spark):
    """The declared 'sentiment via pandas UDF' surface must agree row-for-row
    with the JVM-expression hot path on the real fixture."""
    from hiveka_spark.operators.text import with_sentiment, with_sentiment_pandas

    docs = table(spark, SF_SMOKE, "documents")
    cols = ["doc_id", "n_pos", "n_neg", "polarity_micro", "sentiment"]
    jvm = {r["doc_id"]: tuple(r) for r in with_sentiment(docs).select(*cols).collect()}
    pdf = {r["doc_id"]: tuple(r) for r in with_sentiment_pandas(docs).select(*cols).collect()}
    assert jvm == pdf and len(jvm) > 0


def test_sentiment_custom_lexicon_on_tweet_fixture(spark):
    """EDBT-2016-style workload: score the FakeTweetProducer-mirror tweets
    with a domain lexicon; labels follow the sign of (n_pos - n_neg)."""
    from hiveka_spark.operators.text import with_sentiment
    from hiveka_spark.sources import producers as P

    rows = P.fake_tweets(50, seed=7, base_ts=1_700_000_000)
    df = spark.createDataFrame(
        [(r["username"], r["text"]) for r in rows], ["username", "text"]
    )
    out = with_sentiment(
        df, pos=["big", "quickly", "parallel"], neg=["lazily", "late", "tiny"]
    ).collect()
    assert len(out) == 50
    for r in out:
        toks = r["text"].lower().split(" ")
        n_pos = sum(t in {"big", "quickly", "parallel"} for t in toks)
        n_neg = sum(t in {"lazily", "late", "tiny"} for t in toks)
        assert (r["n_pos"], r["n_neg"]) == (n_pos, n_neg)
        want = "positive" if n_pos > n_neg else ("negative" if n_neg > n_pos else "neutral")
        assert r["sentiment"] == want
    labels = {r["sentiment"] for r in out}
    assert {"positive", "negative"} <= labels, "fixture should produce both polarities"


def test_sentiment_zero_tokens_is_neutral(spark):
    from hiveka_spark.operators.text import with_sentiment

    out = with_sentiment(
        spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    ).collect()
    assert all(r["sentiment"] == "neutral" and r["polarity_micro"] == 0 for r in out)


def test_sentiment_null_text_twins_stay_equal(spark):
    """NULL text (the norm in scraped corpora) must score 0/0/0/neutral on
    BOTH the JVM path and the pandas twin — not NULL on one and 0 on the
    other (which silently diverges under sum/avg)."""
    from hiveka_spark.operators.text import with_sentiment, with_sentiment_pandas

    df = spark.createDataFrame(
        [(1, None), (2, "fast fast slow")], "doc_id bigint, text string"
    )
    cols = ["doc_id", "n_pos", "n_neg", "polarity_micro", "sentiment"]
    jvm = {r["doc_id"]: tuple(r) for r in with_sentiment(df).select(*cols).collect()}
    pdf = {r["doc_id"]: tuple(r) for r in with_sentiment_pandas(df).select(*cols).collect()}
    assert jvm == pdf
    assert jvm[1] == (1, 0, 0, 0, "neutral")


# ------------------------------------------------------ trained IVF centroids
def test_train_ivf_centroids_shape_and_degeneracy(spark):
    """n_iters=0 must equal the stride seeds exactly (the ivfpq default);
    training keeps every cell (empty-cell keep) and moves centroids."""
    from hiveka_spark.operators.similarity import quantized, train_ivf_centroids

    e = table(spark, SF_SMOKE, "embeddings")
    seed = {
        r["cell"]: r["_cv"]
        for r in train_ivf_centroids(e, n_cells=16, cell_stride=31, n_iters=0).collect()
    }
    stride = {
        r["cell"]: r["_cv"]
        for r in e.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") / 31 < 16))
        .select(
            (F.col("vec_id") / 31).cast("bigint").alias("cell"),
            quantized("embedding").alias("_cv"),
        )
        .collect()
    }
    assert seed == stride

    trained = {
        r["cell"]: r["_cv"]
        for r in train_ivf_centroids(e, n_cells=16, cell_stride=31, n_iters=1).collect()
    }
    assert set(trained) == set(seed) and all(len(v) == 64 for v in trained.values())
    assert trained != seed, "one Lloyd pass should move at least one centroid"


def test_ivfpq_trained_cells_still_exact_pipeline(spark):
    """ivfpq_topk with trained cell centroids returns a valid determinstic
    top-k (k rows per query, ranks 1..k) — the cell_centroids seam wiring."""
    from hiveka_spark.operators.similarity import ivfpq_topk, train_ivf_centroids

    e = table(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)
    cc = train_ivf_centroids(e, n_cells=8, cell_stride=31, n_iters=1)
    out = ivfpq_topk(
        e, qs, k=3, n_cells=8, n_probe=3, m=16, n_centroids=16,
        centroid_stride=7, cell_centroids=cc,
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())
    # deterministic: second run returns the identical pair set
    out2 = ivfpq_topk(
        e, qs, k=3, n_cells=8, n_probe=3, m=16, n_centroids=16,
        centroid_stride=7,
        cell_centroids=train_ivf_centroids(e, n_cells=8, cell_stride=31, n_iters=1),
    ).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in out2}


def test_ivf_cell_stage_matches_inline(spark):
    """The shareable coarse stage must reproduce ivfpq_topk's inline cell
    assignment exactly: handing it back via cell_stage= yields the
    identical top-k result."""
    from hiveka_spark.operators.similarity import ivf_cell_stage, ivfpq_topk

    e = table(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") < 5)
    kw = dict(k=3, n_cells=8, n_probe=3, cell_stride=31, m=16, n_centroids=16,
              centroid_stride=7)
    inline = {tuple(r) for r in ivfpq_topk(e, qs, **kw).collect()}
    stage = ivf_cell_stage(e, qs, n_cells=8, n_probe=3, cell_stride=31)
    shared = {tuple(r) for r in ivfpq_topk(e, qs, cell_stage=stage, **kw).collect()}
    assert inline == shared and inline


# ------------------------------------------------------------------ BPE train
def _ref_bpe(texts, n_merges):
    """Pure-Python Sennrich BPE reference (sequential greedy fold)."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.lower().split() if w)
    vocab = {w: list(w) for w in wf}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_sequential_reference(spark):
    """The window-based greedy merge (incl. the aa-run parity rule) must
    equal the classic sequential fold on an adversarial corpus (runs of
    repeated chars, overlapping candidates, shared prefixes)."""
    from hiveka_spark.operators.bpe import bpe_apply, bpe_train

    texts = [
        "the cat sat on the mat",
        "the cattle cat aaaa aaa",
        "banana bandana the band",
        "aaaa sat the aaaaa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = [tuple(r) for r in bpe_train(df, n_merges=8).collect()]
    want, vocab = _ref_bpe(texts, 8)
    assert got == [tuple(m) for m in want]

    applied = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply(df, [(m[1], m[2]) for m in want]).collect()
    }
    ref_counts = {
        i: sum(len(vocab[w]) for w in t.lower().split() if w)
        for i, t in enumerate(texts)
    }
    assert applied == ref_counts


def test_bpe_python_trainer_matches_sequential_reference():
    """The incremental (heap + occurrence-index) driver-local trainer must
    equal the naive full-recount fold merge-for-merge — incl. count ties
    (lhs/rhs tie-break), aa-runs, and early exhaustion."""
    from hiveka_spark.operators.bpe import _train_python

    texts = [
        "the cat sat on the mat",
        "the cattle cat aaaa aaa",
        "banana bandana the band",
        "aaaa sat the aaaaa",
        "xy xy xyxy yx",
    ]
    from collections import Counter

    wf = sorted(Counter(w for t in texts for w in t.lower().split() if w).items())
    want, _ = _ref_bpe(texts, 500)  # exhausts well before 500
    got = _train_python(wf, 500)
    assert got == want and len(got) < 500  # exhaustion reached, all equal


def test_bpe_capped_driver_local_equals_distributed_loop(spark):
    """bpe_train_capped (driver-local incremental finish) must equal the
    distributed per-merge loop on the same capped word table — the
    certification pin that lets the production path skip per-merge Spark
    jobs."""
    from hiveka_spark.operators.bpe import bpe_train, bpe_train_capped

    texts = [
        "the cat sat on the mat",
        "the cattle cat aaaa aaa",
        "banana bandana the band",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    dist = [tuple(r) for r in bpe_train(df, n_merges=10, max_words=8).collect()]
    local = [
        tuple(r)
        for r in bpe_train_capped(df, n_merges=10, max_words=8, units=False).collect()
    ]
    assert local == dist and len(local) == 10


def test_bpe_unit_freq_space_spanning_pairs(spark):
    """Non-overlapping pair units joined by '_', odd trailing word alone,
    empty/NULL docs contribute nothing."""
    from hiveka_spark.operators.bpe import unit_freq

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b"), (2, ""), (3, None)],
        "doc_id bigint, text string",
    )
    got = {r["w"]: r["freq"] for r in unit_freq(df).collect()}
    assert got == {"a_b": 2, "c_d": 1, "e": 1}


def test_bpe_python_trainer_real_vocab_speed():
    """The real-vocab capability claim: thousands of merges over a
    thousands-of-words vocabulary complete in seconds driver-locally
    (incremental counts), where the distributed loop would need one Spark
    job per merge."""
    import random
    import time

    from hiveka_spark.operators.bpe import _train_python

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    wf = [
        ("".join(rng.choice(alpha) for _ in range(rng.randint(4, 12))), rng.randint(1, 500))
        for _ in range(4000)
    ]
    wf = list({w: f for w, f in wf}.items())
    t0 = time.time()
    merges = _train_python(wf, 8000)
    dt = time.time() - t0
    assert len(merges) >= 4000, len(merges)
    assert dt < 60, f"incremental trainer too slow: {dt:.1f}s"


def test_bpe_apply_keeps_empty_and_null_docs(spark):
    """Row parity: ids whose text is NULL or tokenizes to nothing must come
    back with n_bpe_tokens = 0, not vanish (the with_sentiment discipline)."""
    from hiveka_spark.operators.bpe import bpe_apply

    df = spark.createDataFrame(
        [(0, "the cat"), (1, None), (2, ""), (3, "   ")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply(df, [("t", "h")]).collect()}
    assert got == {0: 5, 1: 0, 2: 0, 3: 0}  # th|e + c|a|t = 5 symbols


def test_bpe_apply_fast_equals_window_twin(spark):
    """The production tokenizer (broadcast merge table + one mapInPandas)
    must equal the stacked-window certification twin in BOTH pre-tokenizer
    modes — words and space-spanning units — on an adversarial corpus
    (aa-runs where greedy order matters, overlapping candidates, NULL/empty
    rows for parity), using REAL trained tables so the min-rank-iterative
    rule is exercised against rank-order-pass semantics."""
    from hiveka_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_fast,
        bpe_train_capped,
    )

    texts = [
        "the cat sat on the mat",
        "the cattle cat aaaa aaa",
        "banana bandana the band",
        "aaaa sat the aaaaa",
        "xy xy xyxy yx",
        None,
        "",
        "   ",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    for units in (False, True):
        mt = [
            (r["lhs"], r["rhs"])
            for r in bpe_train_capped(
                df, n_merges=24, max_words=50, units=units
            ).collect()
        ]
        assert len(mt) >= 8, f"units={units}: table too small to be a real pin"
        twin = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_apply(df, mt, units=units).collect()
        }
        fast = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_apply_fast(df, mt, units=units).collect()
        }
        assert fast == twin, f"units={units}: {fast} != {twin}"
        assert fast[5] == 0 and fast[6] == 0 and fast[7] == 0  # row parity


def test_bpe_apply_fast_rank_order_duplicate_merged_string(spark):
    """Regression for the round-9 ADVICE repro: when a LATER merge creates
    a string an EARLIER merge's pair references (two merges producing the
    same string from different splits), an unguarded min-rank-iterative
    apply merges the earlier pair retroactively.  Table
    [(b,c),(a,b),(ab,c),(x,abc),(a,bc)] on 'xabc': rank-order semantics
    (the certified twin + the x79/x80 oracles) run rank0 (b,c) -> 'x a bc'
    then rank4 (a,bc) -> 'x abc' and STOP (rank3 (x,abc)'s turn already
    passed) = 2 tokens; the buggy fast path went on to merge (x,abc) = 1
    token.  Pins the fast path — count, encode, and the _merge_unit helper
    both derive from — to the twin on this exact table."""
    from hiveka_spark.operators.bpe import (
        _merge_unit,
        bpe_apply,
        bpe_apply_fast,
        bpe_encode,
        bpe_vocab,
    )

    mt = [("b", "c"), ("a", "b"), ("ab", "c"), ("x", "abc"), ("a", "bc")]
    rank = {p: i for i, p in enumerate(mt)}
    assert _merge_unit(list("xabc"), rank) == ["x", "abc"]

    df = spark.createDataFrame(
        [(0, "xabc"), (1, "abc xabc ababc")], "doc_id bigint, text string"
    )
    twin = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply(df, mt).collect()}
    fast = {
        r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply_fast(df, mt).collect()
    }
    assert twin[0] == 2
    assert fast == twin
    # encode path shares _merge_unit: n_tokens must agree with the count path
    vocab = bpe_vocab(mt, list("abcx"))
    enc = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, mt, vocab).collect()}
    assert enc == twin


def test_bpe_apply_fast_min_rank_equivalence_unseen_text(spark):
    """Apply to text the trainer never saw (the serving case): the
    min-rank-iterative rule must still equal rank-order full passes —
    pinned by running the window twin on the same unseen docs."""
    from hiveka_spark.operators.bpe import bpe_apply, bpe_apply_fast, bpe_train

    train = spark.createDataFrame(
        [(0, "the cat sat on the mat the cattle aaaa aaa")],
        "doc_id bigint, text string",
    )
    mt = [(r["lhs"], r["rhs"]) for r in bpe_train(train, n_merges=8).collect()]
    unseen = spark.createDataFrame(
        [(0, "theme cathedral matting saaaat"), (1, "ttttheeee aaaaaa")],
        "doc_id bigint, text string",
    )
    twin = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply(unseen, mt).collect()}
    fast = {
        r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply_fast(unseen, mt).collect()
    }
    assert fast == twin


def test_bpe_byte_fallback_roundtrip_on_unseen_chars(spark):
    """Byte-level fallback (round-10 verdict #2): with a byte_fallback
    vocabulary, characters the training alphabet never saw encode as
    their UTF-8 bytes (ids 0..255) and decode back exactly — round-trip
    holds on ANY input, unk is never emitted.  The legacy (non-fallback)
    vocabulary on the same input collapses them to unk/U+FFFD — pinned
    here as the contrast so the fallback's value is measured, not
    assumed."""
    from hiveka_spark.operators.bpe import (
        _BYTE_BASE,
        bpe_decode_ids,
        bpe_encode_ids,
        bpe_train_capped,
        bpe_vocab,
    )

    train = spark.createDataFrame(
        [(0, "the cat sat on the mat the cattle rattles")],
        "doc_id bigint, text string",
    )
    mt = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_capped(train, n_merges=12, max_words=50).collect()
    ]
    alphabet = sorted(set("thecasonmrl_"))
    vocab = bpe_vocab(mt, alphabet, byte_fallback=True)
    assert min(vocab.values()) == _BYTE_BASE  # ids 0..255 reserved for bytes
    assert len(set(vocab.values())) == len(vocab)

    # one pre-tokenizer unit per row (the x82/x83 shape: a flat id stream
    # does not mark unit boundaries) — mixing seen substrings with unseen
    # ASCII, 2-byte (é, µ), and 3-byte (日) characters
    units = [(0, "the"), (1, "h3llo!"), (2, "caté"), (3, "µ日本"), (4, "x9_m")]
    df = spark.createDataFrame(units, "doc_id bigint, text string")
    enc = bpe_encode_ids(df, mt, vocab, byte_fallback=True)
    dec = bpe_decode_ids(enc, vocab, byte_fallback=True)
    got = {r["doc_id"]: r["text_rt"] for r in dec.collect()}
    assert got == {i: u for i, u in units}

    # byte ids appear exactly for the unseen characters' UTF-8 bytes
    ids = {r["doc_id"]: list(r["ids"]) for r in enc.collect()}
    assert all(i >= _BYTE_BASE for i in ids[0])  # fully in-vocabulary
    assert [i for i in ids[3] if i < _BYTE_BASE] == list("µ日本".encode())
    unk = _BYTE_BASE + len(vocab)
    assert all(i < unk for seq in ids.values() for i in seq)  # never unk

    # contrast: the non-fallback vocabulary is lossy on the same input
    v0 = bpe_vocab(mt, alphabet)
    enc0 = bpe_encode_ids(df, mt, v0)
    dec0 = bpe_decode_ids(enc0, v0)
    got0 = {r["doc_id"]: r["text_rt"] for r in dec0.collect()}
    assert got0[3] == "���" and got0[0] == "the"


def test_bpe_byte_fallback_rejects_legacy_vocab(spark):
    """byte_fallback=True against a vocabulary built WITHOUT byte_fallback
    must raise, not silently reinterpret legitimate token ids 0..255 as
    raw UTF-8 bytes (round-11 advice)."""
    import pytest

    from hiveka_spark.operators.bpe import (
        bpe_decode_ids,
        bpe_encode,
        bpe_encode_ids,
        bpe_vocab,
    )

    mt = [("a", "b")]
    legacy = bpe_vocab(mt, ["a", "b"], byte_fallback=False)
    df = spark.createDataFrame([(0, "ab")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="byte-fallback vocabulary"):
        bpe_encode_ids(df, mt, legacy, byte_fallback=True)
    with pytest.raises(ValueError, match="byte-fallback vocabulary"):
        bpe_encode(df, mt, legacy, byte_fallback=True)
    enc = bpe_encode_ids(df, mt, legacy)  # legacy pairing stays valid
    with pytest.raises(ValueError, match="byte-fallback vocabulary"):
        bpe_decode_ids(enc, legacy, byte_fallback=True)


def test_bpe_train_max_words_cap(spark):
    """The 100 TB vocab cap: training on the top-K words only must equal
    the reference restricted to those words."""
    from hiveka_spark.operators.bpe import bpe_train

    texts = ["aa bb aa bb aa cc dd ee ff gg zz"]
    df = spark.createDataFrame([(0, texts[0])], "doc_id bigint, text string")
    got = [tuple(r) for r in bpe_train(df, n_merges=2, max_words=2).collect()]
    # top-2 words by (freq desc, w asc): aa (3), bb (2)
    want, _ = _ref_bpe(["aa aa aa bb bb"], 2)
    assert got == [tuple(m) for m in want]


def test_sp_units_twin_and_byte_exact_roundtrip(spark):
    """Byte-exact (normalize=False) mode: the JVM sp_units pre-tokenizer
    equals its Python twin inside the encode paths, units PARTITION the
    marked text, and decode(encode(text)) == RAW text byte-for-byte —
    case, runs of spaces, leading/trailing whitespace — with byte
    fallback covering held-out characters (round-11 verdict #2)."""
    from hiveka_spark.operators.bpe import (
        _SP_MARKER,
        _sp_pretokenize,
        bpe_decode_ids,
        bpe_encode_ids,
        bpe_train_capped,
        bpe_vocab,
        sp_mark,
        sp_units,
    )

    train = spark.createDataFrame(
        [(0, "The cat Sat  ON the mat"), (1, "the   CATTLE rattles")],
        "doc_id bigint, text string",
    )
    mt = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_capped(
            train, n_merges=10, max_words=50, units=False, normalize=False
        ).collect()
    ]
    alpha = [
        r["s"]
        for r in train.select(F.explode(sp_units("text")).alias("u"))
        .select(F.explode(F.split(sp_mark("u"), "")).alias("s"))
        .distinct()
        .collect()
    ]
    assert _SP_MARKER in alpha  # whitespace IS token content in raw mode
    vocab = bpe_vocab(mt, alpha, byte_fallback=True)

    texts = [
        (0, "The cat Sat  ON the mat"),
        (1, "  leading AND   trailing  "),
        (2, "UnSeen é日 Mix!  q"),
        (3, "no_spaces_here"),
        (4, "   "),
        # round-12 verdict #1: literal reserved markers (single, runs,
        # space- and letter-adjacent) round-trip through byte-fallback ids
        # instead of silently decoding as spaces, and 4-byte astral /
        # combining-mark text survives the Java-regex pre-tokenizer
        (5, "literal ▁ marker"),
        (6, "▁▁run▁ and  ▁ mix ▁"),
        (7, "astral 🦀🦀 pair é combining"),
        (8, "▁"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    # twin equality: JVM sp_units == Python _sp_pretokenize, and the units
    # partition the RAW text (concatenation restores it verbatim — spaces
    # stay spaces; '▁' in a unit always means a literal input marker)
    for r in df.select("doc_id", "text", sp_units("text").alias("us")).collect():
        py = _sp_pretokenize(r["text"])
        assert list(r["us"]) == py
        assert "".join(py) == r["text"]
        for u in py:  # a unit is pure-marker or marker-free, never mixed
            assert (_SP_MARKER not in u) or set(u) == {_SP_MARKER}

    units_df = df.select("doc_id", F.posexplode(sp_units("text")).alias("upos", "u"))
    enc = bpe_encode_ids(
        units_df, mt, vocab, text_col="u", id_col="doc_id",
        normalize=False, keep_cols=("upos",), byte_fallback=True,
    )
    dec = bpe_decode_ids(
        enc, vocab, ids_col="ids", id_col="doc_id",
        keep_cols=("upos",), byte_fallback=True, normalize=False,
    )
    got = {
        r["doc_id"]: r["rt"]
        for r in dec.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("upos", "text_rt"))),
                    lambda s: s["text_rt"],
                ),
                "",
            ).alias("rt")
        )
        .collect()
    }
    assert got == {i: t for i, t in texts}

    # normalize=False composes only with sp_units, never the pair joiner —
    # on the encode path AND at train time (a silent train-time mismatch
    # would only surface at encode time)
    import pytest

    with pytest.raises(ValueError, match="normalized-mode pair joiner"):
        bpe_encode_ids(df, mt, vocab, normalize=False, units=True,
                       byte_fallback=True)
    with pytest.raises(ValueError, match="normalized-mode pair joiner"):
        bpe_train_capped(train, n_merges=2, normalize=False, units=True)

    # without byte fallback there is no lossless channel for a literal
    # marker: encode refuses LOUDLY instead of silently corrupting
    from hiveka_spark.operators.bpe import bpe_vocab as _bv
    from py4j.protocol import Py4JJavaError

    nofb_vocab = _bv(mt, alpha, byte_fallback=False)
    bad = spark.createDataFrame(
        [(0, "has a literal ▁ marker")], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="reserved marker|PythonException") as ei:
        bpe_encode_ids(
            bad, mt, nofb_vocab, normalize=False, byte_fallback=False
        ).collect()
    assert isinstance(ei.value, Py4JJavaError) or "reserved marker" in str(ei.value)


def test_check_fallback_vocab_both_directions():
    """Round-12 advice: the flag/vocabulary agreement check guards BOTH
    directions — a fallback-built vocabulary (all ids >= 256) passed with
    byte_fallback=False is as silently wrong as the reverse."""
    import pytest

    from hiveka_spark.operators.bpe import _check_fallback_vocab

    legacy = {"a": 0, "b": 1}
    fb = {"a": 256, "b": 257}
    _check_fallback_vocab(legacy, False)
    _check_fallback_vocab(fb, True)
    _check_fallback_vocab({}, True)
    with pytest.raises(ValueError, match="ids 0..255 are reserved"):
        _check_fallback_vocab(legacy, True)
    with pytest.raises(ValueError, match="byte_fallback=False against"):
        _check_fallback_vocab(fb, False)


def test_sp_units_property_unicode(spark):
    """Property test (round-12 verdict #6): over adversarial Unicode —
    surrogate-pair (astral) characters, combining marks, ZWJ sequences,
    literal reserved markers, random mixes — the JVM sp_units
    pre-tokenizer, its Python twin, and the DuckDB oracle regex agree
    unit-for-unit, the units PARTITION the raw text, and the full
    encode/decode loop restores every input byte-for-byte.  Pins the
    code-unit vs code-point question: Java regex works on UTF-16 code
    units but '[^ ▁]+' never splits a surrogate pair (both halves are
    non-space non-marker), Python/DuckDB work on code points — identical
    units either way."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hiveka_spark.operators.bpe import (
        _sp_pretokenize,
        bpe_decode_ids,
        bpe_encode_ids,
        bpe_vocab,
        sp_units,
    )

    nasty = st.text(
        alphabet=st.sampled_from(
            list(" ▁aB.é日🦀🧑‍🚀́̈️\U0001d11e")
        ),
        max_size=24,
    )

    # ONE batched Spark/DuckDB round per suite, not per example: hypothesis
    # drives the Python twin (cheap), and the cross-engine comparison runs
    # over the drawn corpus collected below
    drawn: list[str] = []

    @settings(max_examples=200, deadline=None)
    @given(nasty)
    def draw(t):
        us = _sp_pretokenize(t)
        assert "".join(us) == t  # partition of the RAW text
        for u in us:
            assert ("▁" not in u) or set(u) == {"▁"}
        drawn.append(t)

    draw()
    texts = [(i, t) for i, t in enumerate(dict.fromkeys(drawn))]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")

    jvm = {
        r["doc_id"]: list(r["us"])
        for r in df.select("doc_id", sp_units("text").alias("us")).collect()
    }
    con = duckdb.connect()
    ddb = {
        i: con.execute(
            "SELECT regexp_extract_all(?, ' *[^ ▁]+| +|▁+')", [t]
        ).fetchone()[0]
        for i, t in texts
    }
    for i, t in texts:
        py = _sp_pretokenize(t)
        assert jvm[i] == py, (t, jvm[i], py)
        assert ddb[i] == py, (t, ddb[i], py)

    # full loop on a held-out-everything vocabulary: EVERY symbol goes
    # through byte fallback, so decode(encode(t)) == t must hold purely by
    # the partition + byte-channel invariants
    vocab = bpe_vocab([], ["q", "▁"], byte_fallback=True)
    enc = bpe_encode_ids(
        df, [], vocab, normalize=False, byte_fallback=True
    )
    dec = bpe_decode_ids(
        enc, vocab, ids_col="ids", id_col="doc_id",
        byte_fallback=True, normalize=False,
    )
    got = {r["doc_id"]: r["text_rt"] for r in dec.collect()}
    assert got == dict(texts)


def test_tokenizer_artifact_save_load_mode_dispatch(spark, tmp_path, monkeypatch):
    """save_tokenizer/load_tokenizer round-trip: the loaded artifact
    applies ITSELF under its persisted contract — byte_exact dispatches
    the marker pre-tokenizer (case/whitespace preserved), normalized the
    pair-unit one — and encode through the artifact equals the direct
    call with the right flags, so the mode can never be misapplied."""
    import pytest

    from hiveka_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_train_capped,
        bpe_vocab,
        load_tokenizer,
        save_tokenizer,
        sp_mark,
        sp_units,
        unit_expr,
    )
    from hiveka_spark.operators.text import tokens

    train = spark.createDataFrame(
        [(0, "The cat Sat  ON the mat"), (1, "the   CATTLE rattles")],
        "doc_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [(0, "The cat  SAT"), (1, "rattles  ")], "doc_id bigint, text string"
    )

    for mode in ("byte_exact", "normalized", "normalized_words"):
        raw = mode == "byte_exact"
        units = mode == "normalized"
        mt = [
            (r["lhs"], r["rhs"])
            for r in bpe_train_capped(
                train, n_merges=8, max_words=50,
                units=units, normalize=not raw,
            ).collect()
        ]
        if raw:
            units_col = sp_units("text")
        elif units:
            units_col = unit_expr("text")
        else:
            units_col = tokens("text")
        alpha = [
            r["s"]
            for r in train.select(F.explode(units_col).alias("u"))
            .select(F.explode(F.split(sp_mark("u"), "")).alias("s"))
            .distinct()
            .collect()
        ]
        vocab = bpe_vocab(mt, alpha, byte_fallback=True)
        path = str(tmp_path / mode)
        save_tokenizer(spark, path, mt, vocab, mode, byte_fallback=True)
        art = load_tokenizer(spark, path)
        assert (art.norm_mode, art.byte_fallback) == (mode, True)
        assert art.merges == mt and art.vocab == vocab

        via_art = {
            r["doc_id"]: list(r["ids"]) for r in art.encode_ids(docs).collect()
        }
        direct = {
            r["doc_id"]: list(r["ids"])
            for r in bpe_encode_ids(
                docs, mt, vocab, units=units, normalize=not raw,
                byte_fallback=True,
            ).collect()
        }
        assert via_art == direct
        # round-trip through the artifact's own decode, per-unit rows
        if raw:
            u = docs.select("doc_id", F.posexplode(units_col).alias("upos", "u"))
            enc = art.encode_ids(u, text_col="u", keep_cols=("upos",))
            dec = art.decode_ids(enc, keep_cols=("upos",))
            got = {
                r["doc_id"]: r["rt"]
                for r in dec.groupBy("doc_id")
                .agg(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("upos", "text_rt"))),
                            lambda s: s["text_rt"],
                        ),
                        "",
                    ).alias("rt")
                )
                .collect()
            }
            assert got == {0: "The cat  SAT", 1: "rattles  "}

    with pytest.raises(ValueError, match="unknown norm_mode"):
        save_tokenizer(spark, str(tmp_path / "bad"), mt, vocab, "lowercased")

    # a save that dies before its publish leaves the previous artifact
    # whole and loadable
    from hiveka_spark import commit
    from hiveka_spark.operators.bpe import _ARTIFACT_FORMAT

    path = str(tmp_path / "normalized_words")
    before = load_tokenizer(spark, path)

    def crash(staged, target):
        raise OSError("crash before publish")

    monkeypatch.setattr(commit, "publish", crash)
    with pytest.raises(OSError, match="crash before publish"):
        save_tokenizer(spark, path, mt[:1], vocab, "byte_exact")
    monkeypatch.undo()
    after = load_tokenizer(spark, path)
    assert (after.merges, after.norm_mode) == (before.merges, before.norm_mode)
    with pytest.raises(RuntimeError, match="no published tokenizer"):
        load_tokenizer(spark, commit.staging_path(path))

    # a tampered table fails the content-token check
    spark.createDataFrame(
        [("normalized", True, "stale", _ARTIFACT_FORMAT)],
        "norm_mode string, byte_fallback boolean, content_token string, "
        "format int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(RuntimeError, match="content token"):
        load_tokenizer(spark, path)

    # format guard: an artifact saved under the OLD token scheme (no
    # format column, or an older version) fails with a FORMAT error, not
    # a misleading corruption one
    spark.createDataFrame(
        [("normalized", True, "whatever")],
        "norm_mode string, byte_fallback boolean, content_token string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(RuntimeError, match="format version 1"):
        load_tokenizer(spark, path)


def test_substring_dedup_spans_and_rewrite(spark):
    """Exact substring dedup (Lee et al. 2022) on a hand-computed fixture,
    L=3: overlap-merged span extents, the self-repeat case (a doc made of
    one repeated trigram collapses to its first period), keep-first
    removal ordered by the global (doc, pos0) argmin, and row parity for
    NULL and too-short docs."""
    import hashlib

    from hiveka_spark.operators.dedup import (
        substring_dedup_rewrite,
        substring_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "x a b c d y"),
            (2, "p q r p q r p q r"),
            (3, "a b c z z"),
            (4, None),
            (5, "short"),
        ],
        "doc_id bigint, text string",
    )

    spans = {
        r["doc_id"]: (r["n_words"], r["n_dup_spans"], r["dup_words"], r["dup_frac_q"])
        for r in substring_dup_spans(docs, min_len=3).collect()
    }
    assert spans == {
        0: (6, 1, 4, 6666),   # windows at 0,1 merge -> span [0,3]
        1: (6, 1, 4, 6666),   # windows at 1,2 merge -> span [1,4]
        2: (9, 1, 9, 10000),  # every window duplicated -> whole doc
        3: (5, 1, 3, 6000),   # 'a b c' 3rd occurrence
        4: (0, 0, 0, 0),
        5: (1, 0, 0, 0),
    }

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    rw = {
        r["doc_id"]: (r["n_words"], r["kept_words"], r["removed_words"], r["clean_md5"])
        for r in substring_dedup_rewrite(docs, min_len=3).collect()
    }
    assert rw == {
        0: (6, 6, 0, md5("a b c d e f")),  # holds every first occurrence
        1: (6, 2, 4, md5("x y")),
        2: (9, 3, 6, md5("p q r")),        # self-repeats removed past period 1
        3: (5, 2, 3, md5("z z")),
        4: (0, 0, 0, md5("")),
        5: (1, 1, 0, md5("short")),
    }


def test_bpe_train_continue_equals_train_longer():
    """Vocabulary extension's defining property: on a FIXED word table,
    training B merges then continuing with N more (seeded from the base
    apply state) is bit-identical to training B+N at once — the
    incremental pair counts ARE the loop state.  Pure driver-local, runs
    the real _train_python both ways."""
    from hiveka_spark.operators.bpe import _train_python

    wf = [
        ("the_cat", 50), ("the_dog", 40), ("a_cat", 30), ("catalog", 20),
        ("dogged", 15), ("aaaa", 12), ("the_the", 9), ("banana", 7),
    ]
    for B, N in ((4, 4), (8, 4), (1, 10), (0, 6)):
        full = _train_python(wf, B + N)
        base = _train_python(wf, B)
        cont = _train_python(wf, N, base_merges=[(a, b) for _, a, b, _, _ in base])
        stitched = base + [(r + B, a, b, m, c) for (r, a, b, m, c) in cont]
        assert stitched == full, (B, N, stitched, full)


# ------------------------------------------- r17 parsed-SQL robustness fixes
def test_sentiment_empty_lexicon_is_valid_sql(spark):
    """Round-16 advice: an empty pos/neg list used to emit `w IN ()` which
    fails at parse time; it must behave as the always-false predicate the
    old Column-API isin([]) was."""
    from hiveka_spark.operators.text import with_sentiment

    out = with_sentiment(
        spark.createDataFrame([(1, "fast slow fast")], ["doc_id", "text"]),
        pos=[], neg=["slow"],
    ).collect()[0]
    assert (out["n_pos"], out["n_neg"], out["sentiment"]) == (0, 1, "negative")


def test_text_builders_quote_odd_column_names(spark):
    """Parsed-SQL builders must backtick-quote plain column-name arguments
    (hiveka_spark.sqlexpr.qident) so names with spaces, backticks or
    reserved words resolve as the Column API resolves them."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from hiveka_spark.operators.dedup import word_ngrams
    from hiveka_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket,
        with_quantized_norm,
    )
    from hiveka_spark.operators.text import (
        tokens,
        with_fingerprint,
        with_gopher_rules,
        with_lang_id,
        with_quality,
        with_sentiment,
        with_token_stats,
    )

    text = "the quick brown fox is in it for the win"
    df = spark.createDataFrame(
        [(1, text)],
        ["doc_id", "doc text"],  # space + would not parse unquoted
    )
    for fn in (with_token_stats, with_quality, with_lang_id,
               with_gopher_rules, with_fingerprint, with_sentiment):
        row = fn(df, text_col="doc text").collect()[0]
        assert row["doc_id"] == 1, fn.__name__
    # the id name is spliced into the mapInPandas output schema DDL too
    from hiveka_spark.operators.bpe import bpe_apply_fast

    row = bpe_apply_fast(
        df.withColumnRenamed("doc_id", "doc id"), [("t", "h")],
        text_col="doc text", id_col="doc id",
    ).collect()[0]
    assert row["doc id"] == 1 and row["n_bpe_tokens"] > 0

    # the array builders, on a name with a space and one with a backtick:
    # each must give the answer it gives on a plain name
    vecs = [(i, [0.1 * i, -0.2, 0.3 * (i % 3), 0.05]) for i in range(1, 7)]

    def frames(id_name: str, vec_name: str, text_name: str):
        t = spark.createDataFrame(
            [(text,)], StructType([StructField(text_name, StringType())])
        )
        v = spark.createDataFrame(vecs, StructType([
            StructField(id_name, LongType()),
            StructField(vec_name, ArrayType(FloatType())),
        ]))
        return t, v

    def answers(id_name: str, vec_name: str, text_name: str):
        t, v = frames(id_name, vec_name, text_name)
        q = with_quantized_norm(v, vec_name)
        buckets = q.select(F.col("qvec").alias(vec_name)).select(
            lsh_bucket(vec_name, 3, 4).alias("b")
        )
        topk = brute_force_topk(v, v, id_col=id_name, vec_col=vec_name, k=2, dim=4)
        return (
            t.select(tokens(text_name)).first()[0],
            t.select(word_ngrams(text_name, 2)).first()[0],
            sorted(tuple(r) for r in q.select("qvec", "qnorm2").collect()),
            sorted(r["b"] for r in buckets.collect()),
            sorted(tuple(r) for r in topk.collect()),
        )

    want = answers("id", "vec", "text")
    assert want[0][:2] == ["the", "quick"] and want[1][0] == "the quick"
    for odd in (("doc id", "emb vec", "doc text"), ("a`b", "q`v", "t`x")):
        assert answers(*odd) == want, odd


def test_sentiment_lexicon_backslash_word(spark):
    """Round-16 advice: a caller-supplied lexicon word containing a
    backslash must survive SQL string-literal escaping intact."""
    from hiveka_spark.operators.text import with_sentiment

    out = with_sentiment(
        spark.createDataFrame([(1, r"a\b c")], ["doc_id", "text"]),
        pos=[r"a\b"], neg=[],
    ).collect()[0]
    assert out["n_pos"] == 1 and out["sentiment"] == "positive"


def test_lsh_bucket_matches_python_planes(spark):
    """lsh_bucket sets bit p iff the integer dot of the quantized vector
    with plane p of plane_weights is positive: the buckets Spark computes
    equal the ones pure Python computes from the same ints."""
    from hiveka_spark.catalog import table
    from hiveka_spark.operators.similarity import (
        lsh_bucket,
        plane_weights,
        with_quantized_norm,
    )

    from .conftest import SF_SMOKE

    v = with_quantized_norm(table(spark, SF_SMOKE, "embeddings"), "embedding")
    out = v.select("qvec", lsh_bucket("qvec", 4, 64, tag="t0_").alias("b")).collect()
    planes = plane_weights(4, 64, tag="t0_")
    want = [
        sum(2**p for p, w in enumerate(planes)
            if sum(a * b for a, b in zip(r["qvec"], w)) > 0)
        for r in out
    ]
    assert len(set(want)) > 1
    assert [r["b"] for r in out] == want
