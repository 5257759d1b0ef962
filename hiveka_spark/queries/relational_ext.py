"""SURVEY.md §2B relational surface, part 2 — joins beyond equi, window
frames, percentiles, array/map functions, grouping sets, subquery forms,
pivot, approximate aggregates.

The reference delegates its whole SQL surface to Hive (README.md:3,
TODO.md:6-9); these entries declare the remainder of that surface as
engine inventory with DuckDB oracles, same conventions as relational.py
(identical aliases both sides, floor-quantized ratios, BIGINT casts for
integer-typed computed columns).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hiveka_spark.catalog import dim, load_tables, table
from hiveka_spark.queries import register
from hiveka_spark.sqlexpr import qident

# ---------------------------------------------------------------------------
# Joins beyond inner-equi
# ---------------------------------------------------------------------------


@register(
    "q26_full_outer_join",
    oracle="""
    SELECT COALESCE(c.n, s.n) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS n, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL JOIN (SELECT s_nationkey AS n, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.n = s.n
    """,
    tags=("join", "outer"),
)
def q26_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (customer vs supplier
    presence per nation) — aggregate-before-join keeps the outer join's
    shuffle at |nations| instead of |customers|."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("cn"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sn"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, F.col("cn") == F.col("sn"), "full_outer").select(
        F.coalesce("cn", "sn").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "q27_cross_join",
    oracle="""
    SELECT r.r_name, p.p AS priority
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS p FROM orders) p
    """,
    tags=("join", "cross"),
)
def q27_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two bounded sides (the only safe cross-join
    shape at scale: both inputs dimension-sized, product broadcastable)."""
    r = dim(spark, sf_dir, "region").select("r_name")
    p = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority")
    ).distinct()
    return r.crossJoin(p)


@register(
    "q28_theta_join",
    oracle="""
    SELECT b.band_name,
           COUNT(*) AS order_cnt,
           ROUND(SUM(o.o_totalprice), 2) AS band_revenue
    FROM orders o
    JOIN (VALUES ('small',   0.0,      50000.0),
                 ('medium',  50000.0,  150000.0),
                 ('large',   150000.0, 1e12)) b(band_name, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_name
    """,
    tags=("join", "theta", "broadcast"),
)
def q28_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (inequality-only) join against a tiny in-memory band table —
    planned as BroadcastNestedLoopJoin, the only join strategy for pure
    non-equi predicates; safe because the broadcast side is O(1) rows."""
    o = table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0), ("large", 150000.0, 1e12)],
        "band_name string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("band_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Window frames & analytic functions
# ---------------------------------------------------------------------------


@register(
    "q29_window_frames",
    oracle="""
    SELECT o_orderkey, o_custkey,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           CAST(FLOOR(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 10000.0) AS BIGINT) / 10000.0
             AS mov_avg3,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 10000.0) AS BIGINT) / 10000.0 AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "frames", "analytic"),
)
def q29_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (lag/lead/ntile/percent_rank) + an explicit
    ROWS frame moving average, all over one deterministic per-customer
    ordering — a single shuffle on o_custkey shared by every function."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.floor(F.avg("o_totalprice").over(wf) * 10000.0) / 10000.0).alias("mov_avg3"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        (F.floor(F.percent_rank().over(w) * 10000.0) / 10000.0).alias("pct_rank"),
    )


@register(
    "q30_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q30_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group.  Quarter fractions over the
    integral-valued quantity column make the linear interpolation exact in
    IEEE doubles, so Spark and DuckDB agree bit-for-bit with no quantization.
    (At 100 TB the exact percentile becomes approx_percentile — see
    q36_approx_distinct for the sketch-aggregate posture.)"""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.50)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q39_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.25) AS p25,
           quantile_disc(l_extendedprice, 0.50) AS p50,
           quantile_disc(l_extendedprice, 0.75) AS p75,
           quantile_disc(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "sketch"),
)
def q39_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch) per group — the mergeable-sketch path
    that replaces q30's exact percentile at 100 TB (partial sketches merge
    map-side; memory is O(accuracy), not O(rows)).  With accuracy above the
    gate-scale row count the sketch stores every value, so it returns the
    exact discrete quantile and DuckDB's quantile_disc is a full oracle;
    above that it degrades to a bounded-error estimate with the same plan."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile_approx(l_extendedprice, 0.25, 100000)").alias("p25"),
        F.expr("percentile_approx(l_extendedprice, 0.50, 100000)").alias("p50"),
        F.expr("percentile_approx(l_extendedprice, 0.75, 100000)").alias("p75"),
        F.expr("percentile_approx(l_extendedprice, 0.99, 100000)").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Array / map functions
# ---------------------------------------------------------------------------


@register(
    "q31_array_funcs",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(LOWER(text), ' '), w -> w <> '') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(LEN(list_distinct(toks)) AS BIGINT) AS n_distinct,
           array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first5,
           CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS BIGINT) AS sum_len
    FROM t
    """,
    tags=("functions", "array"),
)
def q31_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: split/filter/distinct/sort/slice/join plus a
    fold (F.aggregate) — all JVM higher-order functions, zero Python."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda w: w != F.lit(""))
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice(F.sort_array(F.array_distinct("toks")), 1, 5), ",").alias("first5"),
        F.aggregate(
            "toks", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("sum_len"),
    )


@register(
    "q32_map_funcs",
    oracle="""
    WITH w AS (SELECT doc_id, UNNEST(list_filter(string_split(LOWER(text), ' '),
                                                 x -> x <> '')) AS w
               FROM documents)
    SELECT doc_id,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_keys,
           CAST(COUNT(*) FILTER (w = 'the') AS BIGINT) AS the_cnt
    FROM w GROUP BY doc_id
    """,
    tags=("functions", "map"),
)
def q32_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function surface: per-document word-count map built with
    map_from_entries, then size() and element_at() lookups.  The map is an
    intermediate — outputs are plain columns so the oracle stays relational."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda w: w != F.lit(""))
    counts = (
        d.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    maps = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "cnt"))).alias("m")
    )
    return maps.select(
        "doc_id",
        F.size(F.map_keys(F.col("m"))).cast("bigint").alias("n_keys"),
        F.coalesce(F.element_at("m", F.lit("the")), F.lit(0)).cast("bigint").alias("the_cnt"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / subquery forms / pivot
# ---------------------------------------------------------------------------

_Q33_SQL = """
SELECT COALESCE(r_name, '<ALL>') AS region_name,
       COALESCE(o_orderpriority, '<ALL>') AS priority,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       COUNT(*) AS cnt,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), (o_orderpriority), ())
"""


@register("q33_grouping_sets", oracle=_Q33_SQL, tags=("agg", "grouping-sets", "sql"))
def q33_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() indicator columns (the general
    form behind q13 ROLLUP / q14 CUBE), via the SQL entry point — one Expand
    node, single aggregation pass over the joined input."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql(_Q33_SQL)


_Q34_SQL = """
SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


@register("q34_subqueries", oracle=_Q34_SQL, tags=("subquery", "sql"))
def q34_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (broadcast single-row) + NOT IN
    (null-aware anti join) in one predicate — the two subquery shapes q23/q25
    don't cover."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql(_Q34_SQL)


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "q35_pivot",
    oracle="""
    SELECT n.n_name,
           COUNT(*) FILTER (o.o_orderpriority = '1-URGENT')        AS "1-URGENT",
           COUNT(*) FILTER (o.o_orderpriority = '2-HIGH')          AS "2-HIGH",
           COUNT(*) FILTER (o.o_orderpriority = '3-MEDIUM')        AS "3-MEDIUM",
           COUNT(*) FILTER (o.o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           COUNT(*) FILTER (o.o_orderpriority = '5-LOW')           AS "5-LOW"
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg", "pivot"),
)
def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide) on a bounded value set.  Values are listed
    explicitly — at scale an implicit pivot adds a full distinct-values job
    before planning; explicit values keep it a single-pass aggregation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = dim(spark, sf_dir, "nation")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    wide = joined.groupBy("n_name").pivot("o_orderpriority", _PRIORITIES).count()
    return wide.select(
        "n_name", *[F.coalesce(F.col(qident(p)), F.lit(0)).alias(p) for p in _PRIORITIES]
    )


@register(
    "q38_set_ops_all",
    oracle="""
    WITH c AS (SELECT c_nationkey AS n FROM customer WHERE c_acctbal > 0),
         s AS (SELECT s_nationkey AS n FROM supplier)
    SELECT 'intersect_all' AS tag, n FROM (SELECT n FROM c INTERSECT ALL SELECT n FROM s)
    UNION ALL
    SELECT 'except_all' AS tag, n FROM (SELECT n FROM c EXCEPT ALL SELECT n FROM s)
    """,
    tags=("setops", "multiset"),
)
def q38_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset semantics: INTERSECT ALL / EXCEPT ALL keep duplicate
    cardinalities (q11 covers the DISTINCT variants).  Planned as aggregated
    count-min joins, not row-pair matching."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(
        F.col("c_nationkey").alias("n")
    )
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n"))
    ia = c.intersectAll(s).select(F.lit("intersect_all").alias("tag"), "n")
    ea = c.exceptAll(s).select(F.lit("except_all").alias("tag"), "n")
    return ia.unionByName(ea)


@register(
    "q37_math_regexp",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(ln(o_totalprice) * 10000.0) AS BIGINT) / 10000.0        AS ln_price,
           CAST(FLOOR(sqrt(o_totalprice) * 10000.0) AS BIGINT) / 10000.0      AS sqrt_price,
           CAST(FLOOR(power(o_totalprice / 100000.0, 2) * 10000.0) AS BIGINT) / 10000.0
             AS pow_price,
           CAST(abs(o_custkey % 100 - 50) AS BIGINT)                          AS abs_mod,
           regexp_extract(o_orderpriority, '([0-9]+)-([A-Z ]+)', 2)           AS prio_word,
           CASE WHEN regexp_matches(o_orderpriority, '^[12]-') THEN 1 ELSE 0 END AS is_fast
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
    tags=("functions", "math", "regexp"),
)
def q37_math_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math (ln/sqrt/power/abs — IEEE-identical across engines, floor-
    quantized) and regexp extraction/matching surface."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    q4 = lambda c: F.floor(c * 10000.0) / 10000.0  # noqa: E731
    return o.select(
        "o_orderkey",
        q4(F.log(F.col("o_totalprice"))).alias("ln_price"),
        q4(F.sqrt("o_totalprice")).alias("sqrt_price"),
        q4(F.pow(F.col("o_totalprice") / 100000.0, 2)).alias("pow_price"),
        F.abs(F.col("o_custkey") % 100 - 50).cast("bigint").alias("abs_mod"),
        F.regexp_extract("o_orderpriority", r"([0-9]+)-([A-Z ]+)", 2).alias("prio_word"),
        F.when(F.col("o_orderpriority").rlike(r"^[12]-"), 1).otherwise(0).alias("is_fast"),
    )


@register(
    "q36_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           TRUE AS parts_within_rsd,
           TRUE AS supps_within_rsd
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "sketch"),
)
def q36_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts (the 100 TB substitute for
    exact count-distinct: mergeable fixed-size sketch, no Expand shuffle).

    The raw HLL estimate is engine-specific, so it cannot be hashed against
    DuckDB directly.  Instead the entry CERTIFIES the sketch with a fully
    deterministic result: the exact distinct counts (which DuckDB mirrors)
    plus in-engine booleans asserting |approx - exact| / exact <= 0.04 —
    double the configured 2% rsd, so provably TRUE on this fixture (the
    2%-rsd bound itself is property-tested in tests/test_operators.py).
    The oracle emits literal TRUE; a sketch regression flips the boolean
    and breaks the hash.  Production uses the sketch columns alone — the
    exact side here exists only to make the gate deterministic."""
    li = table(spark, sf_dir, "lineitem")
    a = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("approx_supps"),
        F.count_distinct("l_partkey").cast("bigint").alias("exact_parts"),
        F.count_distinct("l_suppkey").cast("bigint").alias("exact_supps"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )

    def within(approx: str, exact: str):
        return (
            F.abs(F.col(approx).cast("double") - F.col(exact))
            / F.col(exact)
            <= F.lit(0.04)
        )

    return a.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        "n_lines",
        within("approx_parts", "exact_parts").alias("parts_within_rsd"),
        within("approx_supps", "exact_supps").alias("supps_within_rsd"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE, VARIANT/JSON, LATERAL (Spark 4.x SQL surface)
# ---------------------------------------------------------------------------

_Q40_SPARK_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST('1995-01-01' AS DATE)
  UNION ALL
  SELECT add_months(m, 1) FROM months WHERE m < CAST('2001-12-01' AS DATE)
),
rev AS (
  SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY date_format(o_orderdate, 'yyyy-MM')
)
SELECT date_format(m, 'yyyy-MM') AS month,
       COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue,
       COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders
FROM months LEFT JOIN rev ON date_format(m, 'yyyy-MM') = rev.month
"""


@register(
    "q40_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '2001-12-01'
    ),
    rev AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    )
    SELECT strftime(m, '%Y-%m') AS month,
           COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue,
           COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders
    FROM months LEFT JOIN rev ON strftime(m, '%Y-%m') = rev.month
    """,
    tags=("recursive-cte", "gap-fill", "sql"),
)
def q40_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4.x) generating a complete month ladder, left-
    joined against monthly revenue so empty months surface as zero rows (the
    time-series gap-fill shape).  The recursion is a tiny driver-side spine
    (84 rows); the revenue aggregate is the only distributed work, so the plan
    is one scan + one partial-agg shuffle + a broadcast join onto the spine."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql(_Q40_SPARK_SQL)


@register(
    "q41_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract('{"meta":' || props || ',"uid":' || CAST(user_id AS VARCHAR) || '}',
                    '$.meta.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract('{"meta":' || props || ',"uid":' || CAST(user_id AS VARCHAR) || '}',
                    '$.uid') AS BIGINT)) AS BIGINT) AS max_uid
    FROM events
    GROUP BY event_type
    """,
    tags=("variant", "json", "semi-structured"),
)
def q41_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: build a nested JSON document per event, parse it
    into a VARIANT (Spark 4.x binary semi-structured type — parsed once, then
    path access is a cheap binary probe, not repeated string parsing like
    get_json_object), and aggregate typed variant_get extractions.  The DuckDB
    oracle replays the same document through json_extract."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql("""
        SELECT event_type,
               COUNT(*) AS n,
               SUM(variant_get(parse_json(concat('{"meta":', props, ',"uid":',
                   CAST(user_id AS STRING), '}')), '$.meta.k', 'bigint')) AS sum_k,
               MAX(variant_get(parse_json(concat('{"meta":', props, ',"uid":',
                   CAST(user_id AS STRING), '}')), '$.uid', 'bigint')) AS max_uid
        FROM events
        GROUP BY event_type
    """)


_Q42_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey % 50 = 0
"""


@register(
    "q42_lateral_join",
    oracle=_Q42_ORACLE,
    tags=("lateral", "correlated", "sql"),
)
def q42_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-customer top-2 orders by price,
    order-key tiebreak).  Catalyst decorrelates the LIMIT-per-group into a
    window/filter over one equi-join — no per-row re-execution, unlike a
    nested-loop interpretation."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql(_Q42_ORACLE)


@register(
    "q43_unpivot",
    oracle="""
    WITH a AS (SELECT l_returnflag,
                      ROUND(SUM(l_quantity), 2) AS sum_qty,
                      ROUND(SUM(l_extendedprice), 2) AS sum_price,
                      ROUND(SUM(l_discount), 2) AS sum_disc
               FROM lineitem GROUP BY 1)
    SELECT l_returnflag, measure, value
    FROM a UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
    """,
    tags=("unpivot", "melt", "reshape"),
)
def q43_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide per-flag aggregate -> long (flag, measure, value)
    triples via the native DataFrame ``unpivot`` (Spark's Expand node — a
    map-side row multiplication, no shuffle beyond the feeding aggregate)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return a.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@register(
    "q44_gap_fill",
    oracle="""
    WITH e AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hb, value
               FROM events WHERE event_type IN ('click', 'error')),
    h AS (SELECT event_type, hb, COUNT(*) AS cnt, MAX(value) AS hmax
          FROM e GROUP BY 1, 2),
    bounds AS (SELECT MIN(hb) AS mn, MAX(hb) AS mx FROM h),
    grid AS (SELECT t.event_type, g.hb
             FROM (SELECT DISTINCT event_type FROM h) t
             CROSS JOIN (SELECT UNNEST(generate_series(mn, mx)) AS hb FROM bounds) g),
    f AS (SELECT grid.event_type, grid.hb, h.cnt, h.hmax
          FROM grid LEFT JOIN h USING (event_type, hb))
    SELECT event_type, hb AS hour_bucket,
           CAST(COALESCE(cnt, 0) AS BIGINT) AS n_events,
           COALESCE(LAST_VALUE(hmax IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled_max
    FROM f
    """,
    tags=("timeseries", "gap-fill", "forward-fill", "window"),
)
def q44_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification + forward fill: build the complete hourly
    grid between the corpus' first and last active hour for each event type,
    zero-fill missing counts, and carry the last observed hourly max forward
    (the OLAP gap-fill/LOCF idiom).  Integer hour buckets keep the grid
    arithmetic engine-exact; the grid explodes from a 1-row bounds broadcast
    (hours x types is tiny relative to events), the hourly aggregate is the
    only data-sized shuffle, and the forward fill is a per-type ordered
    window (bounded state, no global sort)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    h = (
        e.withColumn("hb", (F.unix_millis("ts") / F.lit(3600000)).cast("bigint"))
        .groupBy("event_type", "hb")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("value").alias("hmax"))
    )
    bounds = h.agg(F.min("hb").alias("mn"), F.max("hb").alias("mx"))
    types = h.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("hb")
    )
    f = grid.join(h, ["event_type", "hb"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return f.select(
        "event_type",
        F.col("hb").alias("hour_bucket"),
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.last("hmax", ignorenulls=True).over(w), F.lit(0.0)).alias(
            "filled_max"
        ),
    )


@register(
    "q45_analytic_funcs",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority
               FROM orders WHERE o_custkey % 100 = 0)
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           LEAD(o_totalprice) OVER w AS next_price,
           LAG(o_totalprice) OVER w AS prev_price,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 10000.0) AS BIGINT) / 10000.0 AS pct_rank,
           CAST(FLOOR(CUME_DIST() OVER w * 10000.0) AS BIGINT) / 10000.0 AS cume
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "analytic", "ntile"),
)
def q45_analytic_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (lead/lag/ntile/percent_rank/cume_dist) over
    a unique total ordering (price + order-key tiebreak, so rank == row
    position and the rational rank statistics are engine-exact; floor4 guards
    the division).  One shuffle on the partition key; frames are running —
    no buffering beyond the partition."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        (F.floor(F.percent_rank().over(w) * 10000.0) / 10000.0).alias("pct_rank"),
        (F.floor(F.cume_dist().over(w) * 10000.0) / 10000.0).alias("cume"),
    )


@register(
    "q46_exact_stats",
    oracle="""
    WITH c AS (SELECT l_returnflag,
                      CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
                      CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
               FROM lineitem),
    s AS (SELECT l_returnflag,
                 COUNT(*) AS n,
                 SUM(CAST(pc AS HUGEINT)) AS sp,
                 SUM(CAST(pc AS HUGEINT) * pc) AS spp,
                 SUM(CAST(qc AS HUGEINT)) AS sq,
                 SUM(CAST(qc AS HUGEINT) * qc) AS sqq,
                 SUM(CAST(pc AS HUGEINT) * qc) AS spq
          FROM c GROUP BY 1)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(FLOOR(CAST(sp AS DOUBLE) / (n * 100.0) * 10000.0) AS BIGINT) / 10000.0
             AS mean_price,
           CAST(FLOOR(CAST(n * spp - sp * sp AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1) * 10000.0)) AS BIGINT)
             AS var_price,
           CAST(FLOOR(sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1) * 10000.0)) * 100.0) AS BIGINT)
             / 100.0 AS std_price,
           CAST(FLOOR((CAST(n * spq - sp * sq AS DOUBLE)
                       / (sqrt(CAST(n * spp - sp * sp AS DOUBLE))
                          * sqrt(CAST(n * sqq - sq * sq AS DOUBLE)))) * 10000.0) AS BIGINT)
             / 10000.0 AS corr_price_qty
    FROM s
    """,
    tags=("agg", "statistics", "variance", "correlation"),
)
def q46_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (mean/variance/stddev/correlation) computed
    ENGINE-EXACTLY: built-in stddev/corr accumulate doubles in partition
    order (not reproducible across engines or even runs), so this entry
    quantizes to integer cents and aggregates (n, Σx, Σx², Σxy) as
    wide-decimal integers — exact under any partitioning — then forms the
    moments with one deterministic IEEE expression per statistic.  The same
    trick production pipelines use for auditable metrics; one map-side
    combined shuffle, identical plan shape to a plain sum."""
    li = table(spark, sf_dir, "lineitem")
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    dec = "decimal(38,0)"
    # The second-moment sums overflow bigint at scale (pc^2 <= 1e14/row; a
    # 100 TB lineitem is ~4e11 rows -> 4e25), but per-row decimal(38)
    # accumulation is ~3x slower than bigint in the hash aggregate.  So each
    # wide sum is SPLIT into two bigint sums — floor(x/B) and x%B with
    # B=1e7, giving hi <= 1.2e7/row and lo < 1e7/row, so BOTH partial sums
    # stay under ~5e18 (< 2^63) even at 4e11 rows — and recombined in
    # decimal(38) only on the 5 group rows.  (B=1e9 would cap hi at 1e5/row
    # but let sum(lo) wrap past 2^63 beyond ~1.8e10 rows; 1e7 balances the
    # halves.)  The terms are non-negative, so DIV/% truncation == floor and
    # the split is exact; sp/sq stay plain bigint (<= 1e7/row, safe to
    # ~9e11 rows before their own split would be needed).
    B = 10**7
    c = li.select(
        "l_returnflag",
        pc.alias("pc"),
        qc.alias("qc"),
        (pc * pc).alias("pp"),
        (qc * qc).alias("qq"),
        (pc * qc).alias("pq"),
    )

    def split_sum(col: str):
        hi = F.sum(F.expr(f"{col} DIV {B}")).cast(dec)
        lo = F.sum(F.expr(f"{col} % {B}")).cast(dec)
        return (hi * B + lo).alias(f"s{col}")

    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pc").cast(dec).alias("sp"),
        split_sum("pp").alias("spp"),
        F.sum("qc").cast(dec).alias("sq"),
        split_sum("qq").alias("sqq"),
        split_sum("pq").alias("spq"),
    )
    n = F.col("n")
    var_num = (n * F.col("spp") - F.col("sp") * F.col("sp")).cast("double")
    covar_num = (n * F.col("spq") - F.col("sp") * F.col("sq")).cast("double")
    varq_num = (n * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        (F.floor(F.col("sp").cast("double") / (n * 100.0) * 10000.0) / 10000.0).alias(
            "mean_price"
        ),
        F.floor(var_num / (n.cast("double") * (n - 1) * 10000.0))
        .cast("bigint")
        .alias("var_price"),
        (
            F.floor(
                F.sqrt(var_num / (n.cast("double") * (n - 1) * 10000.0)) * 100.0
            )
            / 100.0
        ).alias("std_price"),
        (
            F.floor(
                (covar_num / (F.sqrt(var_num) * F.sqrt(varq_num))) * 10000.0
            )
            / 10000.0
        ).alias("corr_price_qty"),
    )


# ---------------------------------------------------------------------------
# q47 — RANGE-interval window frames (time-based sliding state per key)
# ---------------------------------------------------------------------------


@register(
    "q47_range_frame_window",
    oracle="""
    WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
                      CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(cents) OVER w AS BIGINT) AS cents_last_hour,
           CAST(MIN(ms) OVER w AS BIGINT) AS window_open_ms
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ms
                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range-frame", "time-series"),
)
def q47_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frames: for every event, aggregate the SAME
    user's events in the trailing hour — the time-based sliding frame (RANGE
    over an ordering VALUE interval) that ROWS frames (q29) cannot express
    when events are irregularly spaced.  The frame is anchored on epoch
    millis, so the bound arithmetic is pure integers; value sums are integer
    cents.  NOTE a subtlety both engines share and the oracle certifies:
    RANGE frames include ALL PEERS of the boundary values, so two events of
    one user in the same millisecond always see each other regardless of
    row order — which is exactly what makes the result deterministic where
    a ROWS frame on a non-unique ordering would not be.

    One shuffle (hash by user), per-partition ordered scan with a sliding
    accumulator — Spark's WindowExec keeps only the active frame buffered,
    so memory is bounded by the densest hour per user, not the partition.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-3600000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
        F.sum("cents").over(w).cast("bigint").alias("cents_last_hour"),
        F.min("ms").over(w).cast("bigint").alias("window_open_ms"),
    )


# ---------------------------------------------------------------------------
# q48 — deterministic set aggregation (sorted collect + argmax with tie-break)
# ---------------------------------------------------------------------------


@register(
    "q48_sorted_set_agg",
    oracle="""
    WITH seg AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
                 FROM customer GROUP BY 1, 2),
    top AS (SELECT c_nationkey, c_mktsegment AS top_segment
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                    ORDER BY n DESC, LENGTH(c_mktsegment), c_mktsegment) AS r
                  FROM seg)
            WHERE r = 1)
    SELECT n.n_name,
           CAST(SUM(s.n) AS BIGINT) AS n_customers,
           list_aggregate(list_sort(list(DISTINCT s.c_mktsegment)), 'string_agg', '|')
             AS segments,
           MAX(t.top_segment) AS top_segment
    FROM seg s
    JOIN top t USING (c_nationkey)
    JOIN nation n ON n.n_nationkey = s.c_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg", "collect", "deterministic"),
)
def q48_sorted_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic set aggregation — the reproducibility trap collect_set
    sets for pipelines: its element ORDER is partition-order-dependent, so
    any downstream hash/serialization of the raw set is irreproducible.
    The fix certified here: sort the collected set before emitting
    (array_sort + array_join -> one canonical string) and break argmax ties
    totally (max_by on a (count, tie-break...) struct — here count, then
    shorter-name-first, then name) so 'most common segment per nation' is a
    function of the DATA, not the schedule.  The oracle recomputes both in
    SQL; a green hash proves order-independence end-to-end."""
    c = table(spark, sf_dir, "customer")
    n = dim(spark, sf_dir, "nation")
    seg = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    return (
        seg.join(F.broadcast(n), seg["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum("n").cast("bigint").alias("n_customers"),
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias(
                "segments"
            ),
            # min over (-n, len, name) == argmax on count with (shorter,
            # alphabetically-first) tie-breaks — a TOTAL order, so the winner
            # is data-determined (bare max_by ties are schedule-determined)
            F.min_by(
                "c_mktsegment",
                F.struct(
                    (-F.col("n")).alias("neg_n"),
                    F.length("c_mktsegment").alias("len"),
                    F.col("c_mktsegment"),
                ),
            ).alias("top_segment"),
        )
    )


# ---------------------------------------------------------------------------
# q49 — conditional aggregation: FILTER clause, count_if, deterministic mode
# ---------------------------------------------------------------------------

_Q49_SPARK_SQL = """
WITH month_counts AS (
  SELECT o_orderpriority, date_format(o_orderdate, 'yyyy-MM') AS mon, COUNT(*) AS n
  FROM orders GROUP BY o_orderpriority, date_format(o_orderdate, 'yyyy-MM')
),
top_month AS (
  SELECT o_orderpriority, mon AS mode_month
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY n DESC, mon) AS r
        FROM month_counts)
  WHERE r = 1
),
agg AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_orders,
         COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_high_value,
         COUNT_IF(o_orderstatus = 'F') AS n_finished,
         ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE year(o_orderdate) = 1995), 0), 2)
           AS revenue_1995
  FROM orders GROUP BY o_orderpriority
)
SELECT a.o_orderpriority, a.n_orders, a.n_high_value, a.n_finished,
       a.revenue_1995, t.mode_month
FROM agg a JOIN top_month t USING (o_orderpriority)
"""


@register(
    "q49_conditional_agg",
    oracle="""
    WITH month_counts AS (
      SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS mon, COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority, strftime(o_orderdate, '%Y-%m')
    ),
    top_month AS (
      SELECT o_orderpriority, mon AS mode_month
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                         ORDER BY n DESC, mon) AS r
            FROM month_counts)
      WHERE r = 1
    ),
    agg AS (
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_high_value,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
             ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE year(o_orderdate) = 1995), 0), 2)
               AS revenue_1995
      FROM orders GROUP BY o_orderpriority
    )
    SELECT a.o_orderpriority, CAST(a.n_orders AS BIGINT) AS n_orders,
           CAST(a.n_high_value AS BIGINT) AS n_high_value,
           CAST(a.n_finished AS BIGINT) AS n_finished,
           a.revenue_1995, t.mode_month
    FROM agg a JOIN top_month t USING (o_orderpriority)
    """,
    tags=("agg", "filter-clause", "conditional", "mode", "sql"),
)
def q49_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation surface: ANSI FILTER (WHERE ...) aggregate
    modifiers, count_if, and a DETERMINISTIC per-group mode (the most
    frequent order month per priority; Spark's mode() breaks frequency
    ties arbitrarily — nondeterministic across engines and runs, so the
    reproducible form is count + rank with a total (n DESC, value ASC)
    order, the q48 collect_set lesson applied to mode).  All
    conditional counts land in the same single aggregation pass (one Expand-
    free hash aggregate); the mode ranking is a second, month-keyed
    aggregate joined back on the 5 priority rows."""
    from hiveka_spark.catalog import load_tables

    load_tables(spark, sf_dir, register=True)
    return spark.sql(_Q49_SPARK_SQL)
