"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side built-ins (split/filter/transform/
aggregate) — no Python UDFs — so they stay inside whole-stage codegen and
scale linearly with input bytes.  SURVEY.md §2C; no reference analog (the
reference has zero scalar-function code), designed Spark-first.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas-UDF type hints under future-annotations)
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from hiveka_spark.sqlexpr import in_list, qident, str_array_lit, str_lit

# Small per-language marker lexicons for the n-gram/stopword language-ID
# heuristic.  Order matters: deterministic tie-break is list order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人"],
}

EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with"]

# Word-ish tokenization pattern, valid in both Java regex and RE2 (DuckDB):
# letter runs, digit runs, or single non-space symbols — a BPE-ish pre-tokenizer.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_sql(col_sql: str) -> str:
    """SQL text of :func:`tokens` over a column expression given as SQL.

    The text builders below compose each output column as one parsed SQL
    string (see :mod:`hiveka_spark.sqlexpr`).  Double literals carry the
    ``D`` suffix so that no literal parses as DECIMAL and changes a result
    type."""
    return f"filter(split(lower({col_sql}), ' '), w -> w != '')"


def tokens(col: str) -> Column:
    """Whitespace tokens of lowercased text in column ``col``, empties
    removed."""
    return F.expr(tokens_sql(qident(col)))


def floor4(col: Column) -> Column:
    """Deterministic 4-dp quantization: floor(x*1e4)/1e4.

    ROUND() on small-denominator rationals (token ratios etc.) lands on exact
    decimal half-boundaries where engines disagree (HALF_UP vs HALF_EVEN);
    floor of an identical IEEE-754 double is engine-independent.
    """
    return F.floor(col * 10000.0) / 10000.0


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + regex token counts and char count."""
    text_col = qident(text_col)
    toks = tokens_sql(text_col)
    return df.withColumns(
        {
            "n_tokens": F.expr(f"CAST(size({toks}) AS BIGINT)"),
            "n_regex_tokens": F.expr(
                f"CAST(size(regexp_extract_all({text_col}, {str_lit(TOKEN_PATTERN)}, 0))"
                " AS BIGINT)"
            ),
            "n_chars_actual": F.expr(f"CAST(length({text_col}) AS BIGINT)"),
        }
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + composite score.

    Features are exact small-int rationals quantized with floor4 so the DuckDB
    oracle reproduces them bit-for-bit.
    """
    text_col = qident(text_col)
    toks = tokens_sql(text_col)
    n_tok = f"size({toks})"
    # sum of token lengths via JVM-side fold (no UDF)
    sum_len = (
        f"aggregate(transform({toks}, w -> CAST(length(w) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    n_stop = f"size(filter({toks}, w -> {in_list('w', EN_STOPWORDS)}))"
    n_alnum_space = f"length(regexp_replace(lower({text_col}), '[^a-z0-9 ]', ''))"
    punct_ratio = (
        f"(length({text_col}) - {n_alnum_space}) * 1.0D"
        f" / greatest(length({text_col}), 1)"
    )
    f4 = "FLOOR(({}) * 10000.0D) / 10000.0D".format
    return df.withColumns(
        {
            "n_tokens": F.expr(f"CAST({n_tok} AS BIGINT)"),
            "avg_token_len": F.expr(
                f4(f"{sum_len} * 1.0D / greatest({n_tok}, 1)")
            ),
            "stopword_ratio": F.expr(
                f4(f"{n_stop} * 1.0D / greatest({n_tok}, 1)")
            ),
            "punct_ratio": F.expr(f4(punct_ratio)),
            "quality_score": F.expr(
                f4(
                    f"least({n_tok} / 100.0D, 1.0D) * 0.5D"
                    f" + (1.0D - {punct_ratio}) * 0.3D"
                    f" + least({n_stop} * 1.0D / greatest({n_tok}, 1) * 5.0D, 1.0D)"
                    " * 0.2D"
                )
            ),
        }
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: per-language marker-token counts, argmax
    with deterministic tie-break (lexicon declaration order).

    A production system would use char-n-gram profiles; the operator shape
    (per-language score columns -> greatest -> case) is identical and all
    JVM-side.
    """
    text_col = qident(text_col)
    toks = tokens_sql(text_col)
    out = df.withColumns(
        {
            f"score_{lang}": F.expr(
                f"size(filter({toks}, w -> {in_list('w', markers)}))"
            )
            for lang, markers in LANG_MARKERS.items()
        }
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_MARKERS) + ")"
    # when-first-match: earlier languages win ties (lexicon declaration order)
    whens = " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return out.withColumn("pred_lang", F.expr(f"CASE {whens} END"))


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 15,
    max_words: int = 5000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.7,
    min_stop_distinct: int = 2,
) -> DataFrame:
    """Gopher/C4-style composite rule filter (Rae et al. 2021 §A1.1): the
    rule chain every large-scale curation pipeline runs before any model-
    based scoring.  Per doc: word-count bounds, mean-word-length bounds,
    alphabetic-word fraction, and the >=N-distinct-stopwords rule; ``keep``
    is the conjunction.  Pure JVM column expressions (zero shuffles, scales
    with input bytes); every ratio is floor4-quantized so a SQL oracle
    replays the decisions bit-for-bit.  Emits per-rule flags, not just
    ``keep`` — production pipelines log WHICH rule dropped a doc."""
    text_col = qident(text_col)
    toks = tokens_sql(text_col)
    n = f"size({toks})"
    sum_len = (
        f"aggregate(transform({toks}, w -> CAST(length(w) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    f4 = "FLOOR(({}) * 10000.0D) / 10000.0D".format
    mean_len = f4(f"{sum_len} * 1.0D / greatest({n}, 1)")
    alpha_frac = f4(
        f"size(filter({toks}, w -> w rlike '[a-z]')) * 1.0D / greatest({n}, 1)"
    )
    n_stop = (
        f"size(array_intersect(array_distinct({toks}), {str_array_lit(EN_STOPWORDS)}))"
    )
    flag = "CAST(CASE WHEN {} THEN 1 ELSE 0 END AS BIGINT)".format
    out = df.withColumns(
        {
            "n_words": F.expr(f"CAST({n} AS BIGINT)"),
            "mean_word_len": F.expr(mean_len),
            "alpha_frac": F.expr(alpha_frac),
            "n_stop_distinct": F.expr(f"CAST({n_stop} AS BIGINT)"),
        }
    )
    out = out.withColumns(
        {
            "wc_ok": F.expr(
                flag(f"n_words BETWEEN {min_words} AND {max_words}")
            ),
            "len_ok": F.expr(
                flag(
                    f"mean_word_len BETWEEN {min_mean_len!r}D AND {max_mean_len!r}D"
                )
            ),
            "alpha_ok": F.expr(flag(f"alpha_frac >= {min_alpha_frac!r}D")),
            "stop_ok": F.expr(flag(f"n_stop_distinct >= {min_stop_distinct}")),
        }
    )
    return out.withColumn(
        "keep",
        F.expr("CAST(wc_ok * len_ok * alpha_ok * stop_ok AS BIGINT)"),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:

    - ``fp_md5``: md5 of whitespace-normalized lowercase text (exactly
      reproducible in any engine);
    - ``fp_roll``: 31-ary rolling polynomial hash mod 2^31-1 over the
      normalized text's characters, folded JVM-side — the classic rolling
      fingerprint, kept in bigint range so ANSI mode never overflows.
    """
    text_col = qident(text_col)
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    roll = (
        f"aggregate(split({norm}, ''), CAST(0 AS BIGINT), "
        "(acc, ch) -> (acc * 31 + ascii(ch)) % CAST(2147483647 AS BIGINT))"
    )
    return df.withColumns(
        {"fp_md5": F.expr(f"md5({norm})"), "fp_roll": F.expr(roll)}
    )


# Sentiment polarity lexicon (SURVEY.md §2C text-analysis row; mirrors the
# EDBT-2016 tweet-sentiment workload in PAPERS.md and the reference's fake
# tweet data, FakeTweetProducer.java:40-65 + src/main/avro/twitter.avsc:5-17).
# Words are drawn from the synthetic corpus vocabulary so the fixture scores
# are non-trivial; the operator is lexicon-agnostic.
SENTIMENT_POS = ["fast", "big", "merge", "join", "good", "great", "love"]
SENTIMENT_NEG = ["slow", "small", "dup", "scan", "bad", "sad", "hate"]


def with_sentiment(
    df: DataFrame,
    text_col: str = "text",
    pos: list[str] | None = None,
    neg: list[str] | None = None,
) -> DataFrame:
    """Lexicon-based sentiment polarity — the x09 lang-id shape: the lexicon
    is a tiny array LITERAL folded into the plan (the broadcast-lexicon
    posture at any scale), the score is pure per-row JVM expressions (zero
    shuffles, scales with input bytes), and polarity is an integer
    micro-unit (floor((n_pos-n_neg)*1e6/n_tokens)) so a SQL oracle replays
    it bit-for-bit.

    Emits ``n_pos``, ``n_neg``, ``polarity_micro`` (bigint, [-1e6, 1e6]) and
    the ternary ``sentiment`` label.
    """
    pos = SENTIMENT_POS if pos is None else pos
    neg = SENTIMENT_NEG if neg is None else neg
    # NULL text scores as empty (0/0/0/neutral) so the pandas-UDF twin —
    # where None naturally maps to "" — stays pinned equal row-for-row
    text_col = qident(text_col)
    toks = tokens_sql(f"coalesce({text_col}, '')")
    n_pos = f"size(filter({toks}, w -> {in_list('w', pos)}))"
    n_neg = f"size(filter({toks}, w -> {in_list('w', neg)}))"
    n_tok = f"size({toks})"
    polarity = (
        f"CAST(FLOOR(({n_pos} - {n_neg}) * 1000000.0D"
        f" / greatest({n_tok}, 1)) AS BIGINT)"
    )
    return df.withColumns(
        {
            "n_pos": F.expr(f"CAST({n_pos} AS BIGINT)"),
            "n_neg": F.expr(f"CAST({n_neg} AS BIGINT)"),
            "polarity_micro": F.expr(polarity),
            "sentiment": F.expr(
                f"CASE WHEN {polarity} > 0 THEN 'positive'"
                f" WHEN {polarity} < 0 THEN 'negative'"
                " ELSE 'neutral' END"
            ),
        }
    )


def with_sentiment_pandas(
    df: DataFrame,
    text_col: str = "text",
    pos: list[str] | None = None,
    neg: list[str] | None = None,
) -> DataFrame:
    """Pandas-UDF twin of :func:`with_sentiment` — the "sentiment via pandas
    UDF" surface SURVEY.md §2C declares.  Arrow-batched (never per-row); the
    JVM-expression version is the hot path, this is the seam where a real
    model (e.g. a scikit/torch scorer) would plug in.  Tests pin both
    implementations equal row-for-row.
    """
    from pyspark.sql.functions import pandas_udf

    pos = SENTIMENT_POS if pos is None else pos
    neg = SENTIMENT_NEG if neg is None else neg
    pos_set, neg_set = frozenset(pos), frozenset(neg)

    @pandas_udf("struct<n_pos:bigint,n_neg:bigint,polarity_micro:bigint,sentiment:string>")
    def score(texts: pd.Series) -> pd.DataFrame:
        import math

        rows = []
        for t in texts:
            toks = [w for w in (t or "").lower().split(" ") if w]
            np_, nn = sum(w in pos_set for w in toks), sum(w in neg_set for w in toks)
            pol = math.floor((np_ - nn) * 1000000.0 / max(len(toks), 1))
            lab = "positive" if pol > 0 else ("negative" if pol < 0 else "neutral")
            rows.append((np_, nn, pol, lab))
        return pd.DataFrame(rows, columns=["n_pos", "n_neg", "polarity_micro", "sentiment"])

    out = df.withColumn("_s", score(F.col(text_col)))
    return out.select("*", "_s.n_pos", "_s.n_neg", "_s.polarity_micro", "_s.sentiment").drop("_s")
