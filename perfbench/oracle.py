"""Expected answers, computed with DuckDB over the benchmark's own parquet.

DuckDB never sees the engine's output: each function reads the benchmark's
input tables (and, for offset-range answers, the simulated broker's log
files, to learn which offsets the records landed on) and returns what a
correct engine must deliver.  The curation chain is replayed batch-wise
with the same SQL shape as the repository's s23 oracle (Gopher quality
rules, eval-shingle containment at 50%, MinHash bands with Jaccard >= 0.8
verification, smallest doc_id of a duplicate group wins), restricted to
the documents the stream has consumed so far.
"""

from __future__ import annotations

import os

import duckdb

from hiveka_spark.operators import dedup as D
from hiveka_spark.operators.text import EN_STOPWORDS
from perfbench.fixtures import EVAL_SOURCE

K = 3


def _con() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 4})


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


# ------------------------------------------------------------------ events
def event_answers(events: str, customer: str) -> dict:
    """Answers of the cutoff-free op types over the whole events table."""
    con = _con()
    ev, cu = _q(events), _q(customer)
    cols = "event_id, ts_us, user_id, event_type, value, props"
    return {
        "count": con.execute(f"SELECT COUNT(*) FROM {ev}").fetchone()[0],
        "star": con.execute(f"SELECT {cols} FROM {ev} ORDER BY event_id").fetchall(),
        "project": con.execute(f"SELECT event_id, user_id FROM {ev} ORDER BY event_id").fetchall(),
        "groupby": _groups(con, f"SELECT event_type, COUNT(*), SUM(value) FROM {ev} GROUP BY 1"),
        "join": _groups(
            con,
            f"SELECT c_mktsegment, COUNT(*), SUM(value) FROM {ev} "
            f"JOIN {cu} ON user_id = c_custkey GROUP BY 1",
        ),
    }


def _groups(con, sql: str) -> dict:
    return {k: (int(n), float(s)) for k, n, s in con.execute(sql).fetchall()}


def timetravel_answer(events: str, cutoff_ms: int) -> dict:
    return _groups(
        _con(),
        f"SELECT event_type, COUNT(*), SUM(value) FROM {_q(events)} "
        f"WHERE ts_us >= {int(cutoff_ms) * 1000} GROUP BY 1",
    )


def resume_answer(events: str, topic_dir: str, start: dict[str, int]) -> dict:
    """Groups over the records at or past ``start[partition]`` in the log."""
    log = _q(os.path.join(topic_dir, "partition=*", "*.parquet"))
    cond = " OR ".join(
        f"(w.partition = {int(p)} AND w.offset >= {int(o)})" for p, o in start.items()
    ) or "FALSE"
    return _groups(
        _con(),
        f"""SELECT e.event_type, COUNT(*), SUM(e.value)
            FROM read_parquet({log}, hive_partitioning = true) w
            JOIN {_q(events)} e ON CAST(w.key AS VARCHAR) = CAST(e.event_id AS VARCHAR)
            WHERE {cond} GROUP BY 1""",
    )


# ---------------------------------------------------------------- curation
def _curation_ctes(docs: str, chunk: int, contain_pct: int = 50, chunk_pairs: bool = True) -> str:
    stop_sql = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
    docs AS (SELECT * FROM {docs} WHERE source <> '{EVAL_SOURCE}' AND chunk <= {chunk}),
    tok AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
            FROM docs),
    evtok AS (SELECT list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS ws
              FROM {docs} WHERE source = '{EVAL_SOURCE}'),
    evsh AS (SELECT DISTINCT array_to_string(ws[i:i+{K - 1}], ' ') AS s
             FROM (SELECT ws, UNNEST(generate_series(1, GREATEST(LEN(ws) - {K - 1}, 1))) AS i
                   FROM evtok)),
    {D.minhash_machinery_sql(32, 8, K, tok_cte="tok")},
    gf AS (SELECT doc_id,
                  CAST(LEN(ws) AS BIGINT) AS n_words,
                  CAST(FLOOR(list_sum(list_transform(ws, w -> LENGTH(w))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS mean_word_len,
                  CAST(FLOOR(LEN(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) * 1.0
                             / GREATEST(LEN(ws), 1) * 10000.0) AS BIGINT) / 10000.0
                    AS alpha_frac,
                  CAST(LEN(list_intersect(list_distinct(ws), {stop_sql})) AS BIGINT)
                    AS n_stop_distinct
           FROM tok),
    gq AS (SELECT doc_id FROM gf
           WHERE n_words BETWEEN 15 AND 5000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND alpha_frac >= 0.7 AND n_stop_distinct >= 2),
    hits AS (SELECT m.doc_id, COUNT(*) AS n_sh,
                    SUM(CASE WHEN m.s IN (SELECT s FROM evsh) THEN 1 ELSE 0 END) AS n_hit
             FROM sh m JOIN gq USING (doc_id) GROUP BY m.doc_id),
    bflag AS (SELECT doc_id FROM hits WHERE n_hit * 100 >= {contain_pct} * n_sh),
    part AS (SELECT d.doc_id, d.chunk, d.lang, d.n_chars
             FROM docs d JOIN gq USING (doc_id)
             WHERE d.doc_id NOT IN (SELECT doc_id FROM bflag)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
             JOIN part pa ON pa.doc_id = a.doc_id
             JOIN part pb ON pb.doc_id = b.doc_id
             WHERE {f"pa.chunk = {chunk} OR pb.chunk = {chunk}" if chunk_pairs else "TRUE"}),
    {D.jaccard_pairs_sql("cand", "pairs", 0.8)}"""


def curation_chunk(docs_path: str, chunk: int) -> dict:
    """What draining ``chunk`` (after chunks ``0..chunk-1``) must do.

    ``delta`` is the curated rows the chunk adds (kept new documents);
    ``tombstones`` the earlier documents it retracts; the counts are the
    survivors of each stage among the chunk's documents.  One DuckDB
    query returns the stage outputs; the set logic is done here."""
    docs = f"read_parquet({_q(docs_path)})"
    rows = _con().execute(f"""WITH {_curation_ctes(docs, chunk)}
        SELECT 'in', doc_id, chunk, NULL, NULL FROM docs WHERE chunk = {chunk}
        UNION ALL SELECT 'gopher', doc_id, NULL, NULL, NULL FROM gq
        UNION ALL SELECT 'flag', doc_id, NULL, NULL, NULL FROM bflag
        UNION ALL SELECT 'part', doc_id, chunk, lang, n_chars FROM part
        UNION ALL SELECT 'pair', id_a, id_b, NULL, NULL FROM pairs""").fetchall()
    new = {r[1] for r in rows if r[0] == "in"}
    part = {r[1]: r for r in rows if r[0] == "part"}
    pairs = [(r[1], r[2]) for r in rows if r[0] == "pair"]
    losers = {b for _, b in pairs}
    delta = sorted((d, r[3], r[4]) for d, r in part.items() if d in new and d not in losers)
    tombs = sorted({b for a, b in pairs if a in new and b not in new})
    n_part = sum(d in new for d in part)
    return {
        "input_docs": len(new),
        "gopher_pass": sum(r[0] == "gopher" and r[1] in new for r in rows),
        "contaminated": sum(r[0] == "flag" and r[1] in new for r in rows),
        "part": n_part,
        "dup_dropped": n_part - len(delta) + len(tombs),
        "delta": delta,
        "tombstones": tombs,
    }


def curation_totals(docs_path: str) -> dict:
    """Stage survivors over the whole stream of training documents."""
    docs = f"read_parquet({_q(docs_path)})"
    (n_in, n_gq, n_flag, n_part, n_lost) = _con().execute(f"""WITH {_curation_ctes(
        docs, 10**9, chunk_pairs=False)}
        SELECT (SELECT COUNT(*) FROM docs), (SELECT COUNT(*) FROM gq), (SELECT COUNT(*) FROM bflag),
               (SELECT COUNT(*) FROM part), (SELECT COUNT(DISTINCT id_b) FROM pairs)""").fetchone()
    return {"input_docs": n_in, "gopher_pass": n_gq, "contaminated": n_flag,
            "part": n_part, "kept": n_part - n_lost}
